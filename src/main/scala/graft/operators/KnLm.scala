package graft.operators

import graft.{Memo, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Smoothed n-gram language models — interpolated Kneser-Ney, the
  * model class CCNet's actual perplexity filter uses (the unsmoothed
  * planes `text_bigram_logprob` / `text_lm_doclogprob` assign unseen
  * events probability zero, so they cannot score held-out text at
  * all; a deployable filter MUST smooth). Reference note: no
  * counterpart — pure extension surface (the reference reads plain
  * text only, /root/reference/src/mapreduce.cpp:19).
  *
  * BIGRAM level ([[knLogprob]], `text_kn_logprob`) — INTEGER-EXACT
  * smoothing (the [[UnigramLm]]/[[NbLangid]] q10 discipline): with
  * discount D = 1/2 carried in DOUBLED counts, every interpolated
  * Kneser-Ney probability is a ratio of integers —
  *
  *   seen pair:      P = [(2·c12 − 1)·T + N1p(w1)·(Nc(w2)+1)]
  *                       / (2·c1·T)
  *   seen w1 only:   P = N1p(w1)·(Nc(w2)+1) / (2·c1·T)
  *   unseen w1:      P = (Nc(w2)+1) / T
  *
  * where c12/c1 are train bigram/unigram counts, N1p(w1) = distinct
  * continuations of w1 (the discount mass λ(w1)·2c1 = N1p), Nc(w2) =
  * distinct LEFT contexts of w2 (the Kneser-Ney continuation count —
  * "how many contexts has w2 completed", not "how often"), and
  * T = ntypes + V + 1 normalizes the (+1)-floored continuation
  * distribution (the +1 bucket absorbs OOV w2, keeping every
  * numerator ≥ 1). Algebra in the proof obligations: P ≤ 1 always
  * (2c12−1 ≤ 2c1−2N1p+1 per continuation, N1p·(Nc+1) ≤ N1p·T), so
  * per-bigram nll = ilog(den) − ilog(num) ≥ 0 by floor monotonicity —
  * the q10 log2 runs as the same 10-step shift/square chain in both
  * engines ([[NbLangid.withIlog]] table-level here, the unrolled CTE
  * chain in the mirror), with the loud 2^43 domain guard in both.
  *
  * TRIGRAM level ([[kn3Logprob]], `text_kn3_logprob`) — the backoff
  * RECURSION, one level up: P3(w3|w1w2) interpolates the discounted
  * trigram MLE with the bigram-KN backoff P2(w3|w2). A nested exact
  * rational would square the denominators past every integer domain,
  * so the trigram level works on Q20 FIXED-POINT probabilities —
  * p = floor(num·2^20 / den), floored at 1 (events below 2^-20
  * saturate; a perplexity filter thresholds far above) — with every
  * floor division a DEFINED, engine-identical operation:
  *
  *   p2  = max(1, (num2 · 2^20) div den2)        (bigram KN, Q20)
  *   p3  = p2                                    if ctx (w1,w2) unseen
  *       = clamp[1, 2^20](
  *           ((2·c123 − 1)·2^20) div (2·c12)     (0 if trigram unseen)
  *         + (N1p(w1w2) · p2) div (2·c12))       otherwise
  *   nll = ilog(2^20) − ilog(p3) = 20480 − ilog(p3)   (≥ 0, exact)
  *
  * Overflow audit: the num2·2^20 product needs num2 < 2^43 — num2 ≤
  * den2, so the loud den2 < 2^43 guard (mirrored with error())
  * bounds it; all other products stay far inside BIGINT.
  *
  * Scale shape (both levels): counts are vocabulary-plane aggregates
  * (one row per n-gram TYPE); the fixed-point arithmetic and q10 log
  * chains run on the DISTINCT eval-type planes — never per corpus
  * token — and the scored tables attach back to eval occurrences via
  * [[Skew.hotSaltedJoin]] (Zipf-headed n-grams hold one row per
  * occurrence, the corpus-plane attach discipline). Scalar totals
  * ride a 1-row broadcast; shuffle_hash pins the cached-frame join
  * strategy (the bigramLogprob determinism precedent). Headroom: the
  * 2^43 guard is the documented web-scale switch point (split the
  * log over factors at one ulp, or widen the mantissa) — it cannot
  * be silently outgrown. */
object KnLm {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Q20 fixed-point scale and its exact q10 log (2^20 is a power of
    * two, so ilog2Q10(2^20) = 20·1024 exactly). */
  val Q20 = 1L << 20
  private val IlogQ20 = 20L * 1024L
  private val IlogMax = 1L << 43

  /** Train-split bigram model tables: per-bigram counts (cached —
    * feeds everything below plus the hot set), per-w1 totals and
    * continuation counts, per-w2 left-context counts, and the scalar
    * (ntypes, V+1) frame. */
  private[operators] final case class BigramModel(c2: DataFrame,
      c1: DataFrame, nc: DataFrame, tot: DataFrame)

  /** Derive the per-w1 / per-w2 / scalar planes from a (g, n2) bigram
    * count frame — shared by the cache-backed [[bigramModel]] and the
    * checkpoint-backed [[buildKn5Model]]. */
  private def bigramModelFrom(c2: DataFrame): BigramModel = {
    val c1 = c2.groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum("n2").cast("long").as("n1"),
        count(lit(1)).cast("long").as("n1p"))
    val nc = c2.groupBy(substring_index(col("g"), " ", -1).as("w2"))
      .agg(count(lit(1)).cast("long").as("ncont"))
    val tot = c2.agg(count(lit(1)).cast("long").as("__ntypes"),
      (countDistinct(substring_index(col("g"), " ", -1)) + 1L)
        .cast("long").as("__v1"))
    BigramModel(c2, c1, nc, tot)
  }

  private[operators] def bigramModel(train: DataFrame): BigramModel =
    bigramModelFrom(train.groupBy("g")
      .agg(count(lit(1)).cast("long").as("n2")).cache())

  /** Attach the exact KN integers to a frame of DISTINCT bigram types
    * (column `g`): adds `m` (the probability numerator) and `den`.
    * shuffle_hash pins determinism against the cached-c2 AQE
    * broadcast flip. */
  private[operators] def attachNumDen(types: DataFrame,
      mdl: BigramModel): DataFrame =
    types
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .withColumn("w2", substring_index(col("g"), " ", -1))
      .join(mdl.c2.hint("shuffle_hash"), Seq("g"), "left")
      .join(mdl.c1.hint("shuffle_hash"), Seq("w1"), "left")
      .join(mdl.nc.hint("shuffle_hash"), Seq("w2"), "left")
      .crossJoin(broadcast(mdl.tot))
      .withColumn("t", col("__ntypes") + col("__v1"))
      .withColumn("ncp", coalesce(col("ncont"), lit(0L)) + 1L)
      .withColumn("m",
        when(col("n1").isNull, col("ncp"))
          .when(col("n2").isNull, col("n1p") * col("ncp"))
          .otherwise((col("n2") * 2L - 1L) * col("t") +
            col("n1p") * col("ncp")))
      .withColumn("den",
        when(col("n1").isNull, col("t"))
          .otherwise(col("n1") * 2L * col("t")))

  /** Hot-key set for the occurrence attach, from the train counts —
    * a perf hint only, correctness is unconditional. */
  private def hotKeys(cnt: DataFrame, nCol: String): DataFrame =
    Skew.hotKeysByCount(cnt, "g", nCol)

  /** Per-held-out-doc negative log-likelihood under the train-split
    * (doc_id % 5 ≠ 0) interpolated-KN bigram model: (doc_id,
    * n_bigrams, nll_q10, nll_per_bigram_q10). */
  def knLogprob(d: DataFrame): DataFrame = {
    val bg = TextAnalysis.bigramRows(d, distinctPerDoc = false)
    knScoreWith(bigramModel(bg.where(col("doc_id") % 5 =!= 0)),
      bg.where(col("doc_id") % 5 === 0))
  }

  /** Score a bigram-occurrence frame `ev` (doc_id, g) under a prebuilt
    * bigram model — [[knLogprob]]'s apply side, shared with the
    * memoized entry point. */
  private def knScoreWith(mdl: BigramModel, ev: DataFrame): DataFrame = {
    // score on the DISTINCT eval type plane (vocab-sized), logs never
    // touch the occurrence stream
    val attached = attachNumDen(ev.select("g").distinct(), mdl)
    val sc = NbLangid.withIlog(
      NbLangid.withIlog(attached, "m", "ilog_num")
        .withColumn("m2", col("den")), "m2", "ilog_den")
      .select(col("g"), (col("ilog_den") - col("ilog_num")).as("nll"))
    Skew.hotSaltedJoin(ev, sc, "g", hotKeys(mdl.c2, "n2"), col("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        sum("nll").cast("long").as("nll_q10"))
      .withColumn("nll_per_bigram_q10",
        expr("nll_q10 div n_bigrams").cast("long"))
  }

  /** [[knLogprob]] with the bigram model memoized per documents table
    * (variant `heldout-bigram`): all four model planes become eager
    * checkpoints, so `text_kn_logprob` / `pipeline_ppl_buckets` pay
    * only the eval-side scoring per invocation. */
  private val kn2Memo = new Memo[BigramModel]

  private def knLogprobMemo(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val mdl = kn2Memo(dir, "documents", "heldout-bigram") {
      def ck(df: DataFrame): DataFrame = df.localCheckpoint()
      val m0 = bigramModelFrom(
        TextAnalysis.bigramRows(d.where(col("doc_id") % 5 =!= 0),
            distinctPerDoc = false)
          .groupBy("g").agg(count(lit(1)).cast("long").as("n2")))
      BigramModel(ck(m0.c2), ck(m0.c1), ck(m0.nc), ck(m0.tot))
    }
    knScoreWith(mdl, TextAnalysis.bigramRows(
      d.where(col("doc_id") % 5 === 0), distinctPerDoc = false))
  }

  /** Per-held-out-doc nll under the TRIGRAM interpolated-KN model
    * with Q20-quantized bigram backoff: (doc_id, n_trigrams, nll_q10,
    * nll_per_trigram_q10). See the object Scaladoc for the algebra. */
  def kn3Logprob(d: DataFrame): DataFrame = {
    val bg = TextAnalysis.bigramRows(d, distinctPerDoc = false)
    val mdl = bigramModel(bg.where(col("doc_id") % 5 =!= 0))
    val tg = TextAnalysis.ngramRows(d, 3, distinctPerDoc = false)
    val ev3 = tg.where(col("doc_id") % 5 === 0)
    val c3 = tg.where(col("doc_id") % 5 =!= 0).groupBy("g")
      .agg(count(lit(1)).cast("long").as("n3")).cache()
    val c12 = c3.groupBy(substring_index(col("g"), " ", 2).as("ctx"))
      .agg(sum("n3").cast("long").as("n12"),
        count(lit(1)).cast("long").as("n1p12"))
    val et3 = ev3.select("g").distinct()
      .withColumn("ctx", substring_index(col("g"), " ", 2))
      .withColumn("pair", concat(
        substring_index(substring_index(col("g"), " ", 2), " ", -1),
        lit(" "), substring_index(col("g"), " ", -1)))
    // Q20 backoff on the DISTINCT (w2,w3) pair plane
    val nd = attachNumDen(
        et3.select(col("pair").as("g")).distinct(), mdl)
      .select(col("g").as("pair"), col("m").as("num2"),
        col("den").as("den2"))
    val attached = et3
      .join(c3.hint("shuffle_hash"), Seq("g"), "left")
      .join(c12.hint("shuffle_hash"), Seq("ctx"), "left")
      .join(nd.hint("shuffle_hash"), Seq("pair"))
      // loud Q20 domain guard: num2 <= den2, so den2 < 2^43 bounds
      // the num2 * 2^20 product inside BIGINT (mirrored with error())
      .withColumn("den2", expr(
        s"CASE WHEN den2 < $IlogMax THEN den2 ELSE " +
          "CAST(raise_error(concat('kn3 q20 domain: den2 must be < " +
          "2^43, got ', CAST(den2 AS STRING))) AS BIGINT) END"))
      .withColumn("p2",
        greatest(expr(s"(num2 * $Q20) div den2"), lit(1L)))
      .withColumn("p3",
        least(lit(Q20), greatest(lit(1L),
          when(col("n12").isNull, col("p2"))
            .otherwise(
              coalesce(expr(s"((2 * n3 - 1) * $Q20) div (2 * n12)"),
                lit(0L)) +
                expr("(n1p12 * p2) div (2 * n12)")))))
    val sc = NbLangid.withIlog(attached, "p3", "ilog_p3")
      .select(col("g"), (lit(IlogQ20) - col("ilog_p3")).as("nll"))
    Skew.hotSaltedJoin(ev3, sc, "g", hotKeys(c3, "n3"), col("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_trigrams"),
        sum("nll").cast("long").as("nll_q10"))
      .withColumn("nll_per_trigram_q10",
        expr("nll_q10 div n_trigrams").cast("long"))
  }

  // ------------------------------------------------------------------
  // Order-n generalization (the 5-gram CCNet model order)
  // ------------------------------------------------------------------

  /** (g, cnt) train n-gram type counts. */
  private def ngramCounts(tr: DataFrame): DataFrame =
    tr.groupBy("g").agg(count(lit(1)).cast("long").as("cnt"))

  /** (ctx, cx, n1p) context totals and continuation-type counts of an
    * order-n count table — the level-n analog of `c12`. */
  private def ctxCounts(cn: DataFrame, n: Int): DataFrame =
    cn.groupBy(substring_index(col("g"), " ", n - 1).as("ctx"))
      .agg(sum("cnt").cast("long").as("cx"),
        count(lit(1)).cast("long").as("n1p"))

  /** ONE Q20 backoff level, the generalized [[kn3Logprob]] recursion:
    * attach p_n to a DISTINCT order-n type plane `et` (column g) given
    * the train counts `cn` (g, cnt), the context table `cctx`
    * (ctx, cx, n1p), and the level-(n−1) Q20 probabilities `prev`
    * (g, p) on the SUFFIX plane:
    *
    *   p_n = p_{n−1}(suffix)                        if ctx unseen
    *       = clamp[1, 2^20](
    *           ((2·c_n − 1)·2^20) div (2·cx)        (0 if gram unseen)
    *         + (n1p · p_{n−1}) div (2·cx))          otherwise
    *
    * Overflow audit per level (the 2^43-family guards, one per
    * level): with cx < 2^41 enforced LOUDLY here (mirrored with
    * error()), (2·c_n − 1) < 2^42 so its ·2^20 product < 2^62, and
    * n1p·p ≤ cx·2^20 < 2^61 — every product stays inside BIGINT; the
    * level-2 input is bounded by its own den < 2^43 guard in the
    * caller. All joins shuffle_hash-pinned (the cached-frame AQE flip
    * precedent); every frame is a vocabulary-plane type table. */
  private def q20Level(et: DataFrame, cn: DataFrame, cctx: DataFrame,
      prev: DataFrame, n: Int): DataFrame =
    et
      .withColumn("ctx", substring_index(col("g"), " ", n - 1))
      .withColumn("sfx", substring_index(col("g"), " ", -(n - 1)))
      .join(cn.hint("shuffle_hash"), Seq("g"), "left")
      .join(cctx.hint("shuffle_hash"), Seq("ctx"), "left")
      .join(prev.select(col("g").as("sfx"), col("p").as("pv"))
        .hint("shuffle_hash"), Seq("sfx"))
      .withColumn("cx", expr(
        s"CASE WHEN cx IS NULL OR cx < ${1L << 41} THEN cx ELSE " +
          s"CAST(raise_error(concat('kn q20 domain: context count " +
          s"must be < 2^41 at level $n, got ', CAST(cx AS STRING))) " +
          "AS BIGINT) END"))
      .withColumn("p", least(lit(Q20), greatest(lit(1L),
        when(col("cx").isNull, col("pv"))
          .otherwise(
            coalesce(expr(s"((2 * cnt - 1) * $Q20) div (2 * cx)"),
              lit(0L)) + expr("(n1p * pv) div (2 * cx)")))))
      .select(col("g"), col("p"))

  /** The level-2 entry of the Q20 chain: exact bigram-KN num/den on a
    * DISTINCT pair plane, quantized (with the loud den < 2^43 guard
    * that bounds the num·2^20 product). */
  private def q20Pairs(pairs: DataFrame, mdl: BigramModel): DataFrame =
    attachNumDen(pairs, mdl)
      .withColumn("den", expr(
        s"CASE WHEN den < $IlogMax THEN den ELSE " +
          "CAST(raise_error(concat('kn q20 domain: den2 must be < " +
          "2^43, got ', CAST(den AS STRING))) AS BIGINT) END"))
      .select(col("g"),
        greatest(expr(s"(m * $Q20) div den"), lit(1L)).as("p"))

  /** Per-held-out-doc nll under the 5-GRAM interpolated-KN model —
    * CCNet's actual model order — via the level-over-level Q20 chain:
    * bigram-KN exact rationals → Q20 at level 2, then levels 3, 4, 5
    * each interpolating the discounted MLE with the level below
    * ([[q20Level]] ×3). Output: (doc_id, n_5grams, nll_q10,
    * nll_per_5gram_q10).
    *
    * Scale shape: the type planes shrink going DOWN the chain (5-gram
    * types ⊇ distinct 4-suffixes ⊇ …), every level is a few
    * vocab-plane equijoins, and only the final scored table attaches
    * to the occurrence stream (hot-salted). The per-level overflow
    * audit lives on [[q20Level]]. */
  def kn5Logprob(d: DataFrame): DataFrame =
    kn5LogprobOver(d.where(col("doc_id") % 5 =!= 0),
      d.where(col("doc_id") % 5 === 0))

  /** The TRAINED 5-gram artifact — every frame a vocab-plane type
    * table, each an EAGER lineage-truncating localCheckpoint: the
    * bigram model planes, the 3/4/5-gram counts and their context
    * tables. Checkpointing (rather than `.cache()`) makes the model a
    * reusable leaf: build once, score many — the checkpointed blocks
    * survive `spark.catalog.clearCache()` (the
    * [[Dedup.connectedComponents]] component-cache precedent), so the
    * [[kn5Memo]] share holds across the harnesses' between-query cache
    * clears. A 100 TB deployment writes these same planes to durable
    * storage once per reference-corpus refresh (same DAG, durable
    * edges). */
  private[operators] final case class Kn5Model(mdl: BigramModel,
      c3: DataFrame, c4: DataFrame, c5: DataFrame,
      x3: DataFrame, x4: DataFrame, x5: DataFrame)

  private[operators] def buildKn5Model(train: DataFrame): Kn5Model = {
    def ck(df: DataFrame): DataFrame = df.localCheckpoint()
    val c2 = ck(TextAnalysis.bigramRows(train, distinctPerDoc = false)
      .groupBy("g").agg(count(lit(1)).cast("long").as("n2")))
    val m0 = bigramModelFrom(c2)
    val mdl = BigramModel(c2, ck(m0.c1), ck(m0.nc), ck(m0.tot))
    def trainG(n: Int): DataFrame =
      TextAnalysis.ngramRows(train, n, distinctPerDoc = false)
    val c3 = ck(ngramCounts(trainG(3)))
    val c4 = ck(ngramCounts(trainG(4)))
    val c5 = ck(ngramCounts(trainG(5)))
    Kn5Model(mdl, c3, c4, c5,
      ck(ctxCounts(c3, 3)), ck(ctxCounts(c4, 4)), ck(ctxCounts(c5, 5)))
  }

  /** The 5-gram model per documents table and train-corpus variant
    * (heldout / canon / ref): each variant holds its own entry, and a
    * regenerated table evicts only its own stale model. */
  private[operators] val kn5Memo = new Memo[Kn5Model]

  /** Score every doc of `eval` under a prebuilt model — the apply side
    * of the two-corpus split. All joins vocab-plane equijoins
    * (shuffle_hash-pinned inside [[q20Level]]); only the final
    * hot-salted occurrence attach carries corpus rows. */
  private[operators] def kn5ScoreWith(m: Kn5Model,
      eval: DataFrame): DataFrame = {
    val ev5 = TextAnalysis.ngramRows(eval, 5, distinctPerDoc = false)
    val et5 = ev5.select("g").distinct()
    val et4 = et5.select(substring_index(col("g"), " ", -4).as("g"))
      .distinct()
    val et3 = et4.select(substring_index(col("g"), " ", -3).as("g"))
      .distinct()
    val prs = et3.select(substring_index(col("g"), " ", -2).as("g"))
      .distinct()
    val p2 = q20Pairs(prs, m.mdl)
    val p3 = q20Level(et3, m.c3, m.x3, p2, 3)
    val p4 = q20Level(et4, m.c4, m.x4, p3, 4)
    val p5 = q20Level(et5, m.c5, m.x5, p4, 5)
    val sc = NbLangid.withIlog(p5, "p", "ilog_p")
      .select(col("g"), (lit(IlogQ20) - col("ilog_p")).as("nll"))
    Skew.hotSaltedJoin(ev5, sc, "g", hotKeys(m.c5, "cnt"), col("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_5grams"),
        sum("nll").cast("long").as("nll_q10"))
      .withColumn("nll_per_5gram_q10",
        expr("nll_q10 div n_5grams").cast("long"))
  }

  /** The general two-corpus form: the model trains on `train` and
    * scores every doc of `eval` — the production CCNet shape, where
    * the reference LM comes from a TRUSTED corpus and the crawl is
    * what gets scored. [[kn5Logprob]] is the held-out special case
    * (train = doc_id%5≠0, eval = %5=0 of one frame); the gram
    * extraction is per-doc row-wise, so splitting the frame before
    * extraction is identical to filtering grams after it.
    * `text_kn5_logprob_ref` registers the genuinely-two-corpus case
    * (trusted sources → the rest). */
  def kn5LogprobOver(train: DataFrame, eval: DataFrame): DataFrame =
    kn5ScoreWith(buildKn5Model(train), eval)

  /** [[kn5Logprob]] with the held-out train-split model memoized per
    * data dir (variant `heldout`) — the registered `text_kn5_logprob`
    * / `pipeline_ppl_buckets_kn5` entry point: the model builds once
    * per table fingerprint, every later invocation only runs the
    * scoring equijoins. */
  private def kn5LogprobMemo(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val m = kn5Memo(dir, "documents", "heldout")(
      buildKn5Model(d.where(col("doc_id") % 5 =!= 0)))
    kn5ScoreWith(m, d.where(col("doc_id") % 5 === 0))
  }

  /** The trusted reference slice for `text_kn5_logprob_ref`: a fixed
    * source allowlist standing in for the curated corpus (Wikipedia,
    * in CCNet's production setup) the reference LM trains on. */
  val TrustedSources: Seq[String] = Seq("src0", "src1", "src2", "src3")

  /** CCNet's PERPLEXITY gate for the composed prepare
    * (`pipeline_full_prepare_ppl`): score every CANONICAL doc under
    * the 5-gram interpolated-KN model and keep the head + middle
    * perplexity terciles (NTILE(3) over the deterministic
    * (nll_per, doc_id) order — `pipeline_ppl_buckets_kn5`'s exact
    * bucket rule, applied as the filter CCNet actually runs). Here
    * the model trains on the same canonical plane it scores — the
    * spec-scale stand-in for production, where [[kn5LogprobOver]]'s
    * `train` side points at a TRUSTED reference corpus instead. Docs
    * too short to carry a 5-gram have no perplexity and leave the
    * gate's domain (identically in both engines), the same rule the
    * standalone bucket query documents.
    *
    * Tercile shape: the buckets come from
    * [[Sampling.ntileByScore]]'s histogram discipline on the SLIM
    * per-doc score plane — one (nll_per → count) aggregate, exact
    * cutoff ranks on the metadata-sized histogram, doc_id ranking only
    * inside the ≤ 2 boundary-score tie groups — row-for-row equal to
    * the mirror's NTILE(3) OVER (ORDER BY nll_per, doc_id) but with no
    * corpus-sized single-partition window anywhere; the surviving
    * doc_ids then semi-join back to canon, so document text never
    * rides the bucket machinery. The score plane is an eager
    * lineage-truncating checkpoint (the [[Prepare.fullPrepare]] stage
    * discipline): the 5-gram chain runs ONCE and the bucket branches
    * read its slim materialized rows; the chain's own shuffle
    * discipline is pinned by text_kn5_logprob's budget. */
  def pplGate(canon: DataFrame): DataFrame =
    pplGateWith(buildKn5Model(canon), canon)

  /** [[pplGate]] with the model MEMOIZED per data dir (variant
    * `canon`): the composed `pipeline_full_prepare_ppl` rebuilt the
    * full 5-gram chain on every invocation — the r12 verdict's
    * memoization gap. The canon plane is a pure function of the
    * `documents` table, so the table fingerprint keys the model. */
  def pplGateMemo(dir: String): DataFrame => DataFrame =
    canon => pplGateWith(
      kn5Memo(dir, "documents", "canon")(buildKn5Model(canon)), canon)

  /** The GENUINELY two-corpus composed gate
    * (`pipeline_full_prepare_ppl_ref`) — production CCNet's exact
    * deployment, closing the r12 "train = eval" stand-in: the
    * reference LM trains on the TRUSTED source slice, run through the
    * SAME scrub + canonicalize front the scored corpus gets, and
    * scores every canon doc; memo variant `ref-canon`. */
  def pplGateRefMemo(dir: String): DataFrame => DataFrame = { canon =>
    val s = canon.sparkSession
    val train = TextAnalysis.canonicalized(TextAnalysis.scrubbed(
      docs(s, dir).where(col("source").isin(TrustedSources: _*))))
    pplGateWith(
      kn5Memo(dir, "documents", "ref-canon")(buildKn5Model(train)), canon)
  }

  /** [[pplGateRefMemo]] with the trusted slice DECONTAMINATED first
    * (r14 — production CCNet dedups the reference corpus against its
    * eval sets BEFORE training; an eval-overlapping doc in the
    * reference LM silently tilts every perplexity the gate reads): a
    * trusted doc leaves the train side if it is itself in the eval
    * split (doc_id % 10 = 0) or shares ≥ 3 rare word 5-grams with any
    * eval doc — `pipeline_decontaminate`'s exact pair rule
    * ([[TextAnalysis.decontaminatePairs]], its hot-salted equijoin
    * shape included), with rarity computed within trusted ∪ eval (the
    * self-contained contract the mirror replays). The contaminated-id
    * set is corpus-scale in principle, so the anti-join is
    * `shuffle_hash`-pinned, never a broadcast assumption. Memo
    * variant `refd-canon`. */
  def pplGateRefDeconMemo(dir: String): DataFrame => DataFrame = { canon =>
    val s = canon.sparkSession
    val d = docs(s, dir)
    val scope = d.where(col("source").isin(TrustedSources: _*) ||
      col("doc_id") % 10 === 0)
    val contaminated = TextAnalysis.decontaminatePairs(scope)
      .select(col("train_doc").as("doc_id")).distinct()
    val train = TextAnalysis.canonicalized(TextAnalysis.scrubbed(
      d.where(col("source").isin(TrustedSources: _*) &&
          col("doc_id") % 10 =!= 0)
        .join(contaminated.hint("shuffle_hash"), Seq("doc_id"),
          "left_anti")))
    pplGateWith(
      kn5Memo(dir, "documents", "refd-canon")(buildKn5Model(train)), canon)
  }

  private def pplGateWith(m: Kn5Model, canon: DataFrame): DataFrame = {
    val scored = kn5ScoreWith(m, canon)
      .select(col("doc_id"), col("nll_per_5gram_q10").as("nll_per"))
      .localCheckpoint()
    val kept = Sampling.ntileByScore(scored, "nll_per", "doc_id", 3)
      .where(col("bucket") <= 2)
      .select("doc_id")
    canon.join(kept, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
  }

  /** [[pplGate]] as CTEs for the composed-prepare mirror: the full
    * 5-gram chain trained on `trainFrom` and scoring `canon`, the
    * per-doc score, the tercile rule, then the `gate` CTE the
    * fullPrepare chain expects. Assumes a `canon` CTE is in scope. */
  private[operators] def sqlPplGateCtes: String =
    sqlPplGateCtesOver("canon")

  private[operators] def sqlPplGateCtesOver(trainFrom: String): String =
    s"""${sqlKn5CtesOver(trainFrom, "canon")},
       |per_doc AS (SELECT doc_id,
       |    CAST(SUM(nll) // COUNT(*) AS BIGINT) AS nll_per
       |  FROM e5 JOIN sc USING (g) GROUP BY doc_id),
       |pbuck AS (SELECT doc_id,
       |    NTILE(3) OVER (ORDER BY nll_per, doc_id) AS bucket
       |  FROM per_doc),
       |gate AS MATERIALIZED (
       |  SELECT c.doc_id, c.text
       |  FROM canon c JOIN pbuck b USING (doc_id)
       |  WHERE b.bucket <= 2)""".stripMargin

  /** The REF-trained gate's CTE chain (`pipeline_full_prepare_ppl_ref`
    * — production CCNet's exact deployment: the reference LM trains on
    * the TRUSTED slice, run through the SAME scrub + canonicalize
    * front under its own CTE names, and scores the whole canon
    * plane). */
  private[operators] def sqlPplGateRefCtes: String =
    s"""${Prepare.sqlScrubCanonCtes(
          s"documents WHERE source IN ($sqlTrustedIn)",
          "ref_scrub", "ref_canon")},
       |${sqlPplGateCtesOver("ref_canon")}""".stripMargin

  /** The DECONTAMINATED ref gate's CTE chain
    * (`pipeline_full_prepare_ppl_refd`): the decontamination pair rule
    * (the `pipeline_decontaminate` oracle's exact algebra, re-rooted on
    * trusted ∪ eval) marks contaminated trusted docs, the clean
    * non-eval remainder runs the scrub + canonicalize front under its
    * own CTE names, and the 5-gram reference LM trains on THAT. */
  private[operators] def sqlPplGateRefDeconCtes: String =
    s"""rdsrc AS MATERIALIZED (SELECT doc_id, text FROM documents
       |  WHERE source IN ($sqlTrustedIn) OR doc_id % 10 = 0),
       |rdbg AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(toks) - 3),
       |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
       |           toks[i+3] || ' ' || toks[i+4]))) AS g
       |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
       |        FROM rdsrc)
       |  WHERE len(toks) >= 5),
       |rdrare AS (SELECT g FROM rdbg GROUP BY g HAVING COUNT(*) <= 20),
       |rdbgr AS (SELECT rdbg.doc_id, rdbg.g FROM rdbg
       |  JOIN rdrare USING (g)),
       |rdcont AS MATERIALIZED (SELECT DISTINCT train_doc AS doc_id FROM (
       |    SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc
       |    FROM rdbgr t JOIN rdbgr e ON t.g = e.g
       |      AND t.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
       |    GROUP BY 1, 2 HAVING COUNT(DISTINCT t.g) >= 3)),
       |refd_docs AS (SELECT doc_id, lang, n_chars, text FROM documents
       |  WHERE source IN ($sqlTrustedIn) AND doc_id % 10 <> 0
       |    AND doc_id NOT IN (SELECT doc_id FROM rdcont)),
       |${Prepare.sqlScrubCanonCtes("refd_docs", "refd_scrub",
          "refd_canon")},
       |${sqlPplGateCtesOver("refd_canon")}""".stripMargin

  // ------------------------------------------------------------------
  // Mirrors
  // ------------------------------------------------------------------

  /** n-gram occurrence CTE over one split of the documents table. */
  private def sqlNgrams(name: String, n: Int, split: String): String =
    sqlNgramsOver(name, n, s"documents WHERE doc_id % 5 $split")

  /** The general form: n-gram occurrences over any `fromWhere`
    * relation (a table + predicate, or a CTE name) with (doc_id,
    * text) — the composed ppl-gate mirror points this at `canon`. */
  private def sqlNgramsOver(name: String, n: Int,
      fromWhere: String): String = {
    val gram = (0 until n).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
    s"""$name AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_transform(
       |    range(1, len(toks) - ${n - 2}), i -> $gram)) AS g
       |  FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS toks
       |        FROM $fromWhere)
       |  WHERE len(toks) >= $n)""".stripMargin
  }

  /** The train bigram model as CTEs `tb`, `c2`, `c1`, `nc`, `tot` —
    * shared by both mirrors. */
  private def sqlBigramModelCtes: String =
    sqlBigramModelCtesOver("documents WHERE doc_id % 5 <> 0")

  /** The general form over any train relation. */
  private def sqlBigramModelCtesOver(trainFrom: String): String =
    s"""${sqlNgramsOver("tb", 2, trainFrom)},
       |c2 AS MATERIALIZED (SELECT g, CAST(COUNT(*) AS BIGINT) AS n2
       |  FROM tb GROUP BY g),
       |c1 AS MATERIALIZED (SELECT string_split(g, ' ')[1] AS w1,
       |    CAST(SUM(n2) AS BIGINT) AS n1,
       |    CAST(COUNT(*) AS BIGINT) AS n1p
       |  FROM c2 GROUP BY 1),
       |nc AS MATERIALIZED (SELECT string_split(g, ' ')[2] AS w2,
       |    CAST(COUNT(*) AS BIGINT) AS ncont
       |  FROM c2 GROUP BY 1),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS ntypes,
       |    CAST(COUNT(DISTINCT string_split(g, ' ')[2]) + 1 AS BIGINT)
       |      AS v1
       |  FROM c2)""".stripMargin

  /** `$out` = (g, m, den) for the distinct bigram types of `$src.g`
    * under the train model — [[attachNumDen]]'s algebra verbatim. */
  private def sqlAttachNumDen(src: String, out: String): String =
    s"""$out AS MATERIALIZED (SELECT et.g,
       |    CASE WHEN c1.w1 IS NULL THEN COALESCE(nc.ncont, 0) + 1
       |      WHEN c2.n2 IS NULL
       |        THEN c1.n1p * (COALESCE(nc.ncont, 0) + 1)
       |      ELSE (2 * c2.n2 - 1) * (tot.ntypes + tot.v1) +
       |        c1.n1p * (COALESCE(nc.ncont, 0) + 1) END AS m,
       |    CASE WHEN c1.w1 IS NULL THEN tot.ntypes + tot.v1
       |      ELSE 2 * c1.n1 * (tot.ntypes + tot.v1) END AS den
       |  FROM $src et LEFT JOIN c2 ON et.g = c2.g
       |    LEFT JOIN c1 ON string_split(et.g, ' ')[1] = c1.w1
       |    LEFT JOIN nc ON string_split(et.g, ' ')[2] = nc.w2
       |    CROSS JOIN tot)""".stripMargin

  private def sqlKnLogprob: String =
    s"""WITH $sqlBigramModelCtes,
       |${sqlNgrams("eb", 2, "= 0")},
       |et AS MATERIALIZED (SELECT DISTINCT g FROM eb),
       |${sqlAttachNumDen("et", "sc0")},
       |${NbLangid.sqlIlog("sc0", "iln", "g, den")},
       |scd AS (SELECT g, ilog AS ilog_num, den AS m FROM iln),
       |${NbLangid.sqlIlog("scd", "ild", "g, ilog_num")},
       |sc AS MATERIALIZED (SELECT g,
       |    CAST(ilog - ilog_num AS BIGINT) AS nll FROM ild)
       |SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_bigrams,
       |  CAST(SUM(nll) AS BIGINT) AS nll_q10,
       |  CAST(SUM(nll) // COUNT(*) AS BIGINT) AS nll_per_bigram_q10
       |FROM eb JOIN sc USING (g)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** [[q20Level]]'s algebra verbatim as one CTE: `$out` = (g, p) for
    * the order-`n` types of `$et.g` given counts `$cn` (g, cnt),
    * contexts `$cctx` (ctx, cx, n1p) and the suffix-plane `$prev`
    * (g, p) — including the loud per-level cx < 2^41 guard. */
  private def sqlLevelCte(n: Int, et: String, cn: String, cctx: String,
      prev: String, out: String): String = {
    val ctx = s"array_to_string(list_slice(string_split($et.g, ' '), " +
      s"1, ${n - 1}), ' ')"
    val sfx = s"array_to_string(list_slice(string_split($et.g, ' '), " +
      s"2, $n), ' ')"
    s"""$out AS MATERIALIZED (SELECT $et.g,
       |    LEAST($Q20, GREATEST(1, CASE WHEN cx.cx IS NULL THEN pv.p
       |      ELSE COALESCE(((2 * cc.cnt - 1) * $Q20) // (2 * cx.cx), 0)
       |        + (cx.n1p * pv.p) // (2 * cx.cx) END)) AS p
       |  FROM $et
       |    LEFT JOIN $cn cc ON $et.g = cc.g
       |    LEFT JOIN (SELECT ctx,
       |        CASE WHEN cx < ${1L << 41} THEN cx
       |          ELSE CAST(error('kn q20 domain: context count must ' ||
       |            'be < 2^41 at level $n, got ' || cx) AS BIGINT)
       |          END AS cx,
       |        n1p FROM $cctx) cx ON $ctx = cx.ctx
       |    JOIN $prev pv ON $sfx = pv.g)""".stripMargin
  }

  /** The shared 5-gram scoring chain (`tb` … `sc`): bigram model,
    * train 3/4/5-gram counts + contexts, the nested eval type planes,
    * the Q20 pair entry, three unrolled levels, and the final q10 log
    * — both the kn5 score query and its bucket application reuse it
    * verbatim. */
  private def sqlKn5Ctes: String =
    sqlKn5CtesOver("documents WHERE doc_id % 5 <> 0",
      "documents WHERE doc_id % 5 = 0")

  /** The general two-corpus form ([[kn5LogprobOver]]'s mirror): the
    * model trains on `trainFrom`, the eval planes come from
    * `evalFrom` — the composed ppl-gate mirror points both at
    * `canon`. */
  private def sqlKn5CtesOver(trainFrom: String,
      evalFrom: String): String = {
    def cnt(src: String, out: String): String =
      s"""$out AS MATERIALIZED (SELECT g, CAST(COUNT(*) AS BIGINT)
         |      AS cnt
         |  FROM $src GROUP BY g)""".stripMargin
    def ctx(src: String, n: Int, out: String): String =
      s"""$out AS MATERIALIZED (SELECT
         |    array_to_string(list_slice(string_split(g, ' '), 1,
         |      ${n - 1}), ' ') AS ctx,
         |    CAST(SUM(cnt) AS BIGINT) AS cx,
         |    CAST(COUNT(*) AS BIGINT) AS n1p
         |  FROM $src GROUP BY 1)""".stripMargin
    def sfxPlane(src: String, n: Int, out: String): String =
      s"""$out AS MATERIALIZED (SELECT DISTINCT
         |    array_to_string(list_slice(string_split(g, ' '), 2,
         |      ${n + 1}), ' ') AS g
         |  FROM $src)""".stripMargin
    s"""${sqlBigramModelCtesOver(trainFrom)},
       |${sqlNgramsOver("t3", 3, trainFrom)},
       |${sqlNgramsOver("t4", 4, trainFrom)},
       |${sqlNgramsOver("t5", 5, trainFrom)},
       |${sqlNgramsOver("e5", 5, evalFrom)},
       |${cnt("t3", "c3m")},
       |${cnt("t4", "c4m")},
       |${cnt("t5", "c5m")},
       |${ctx("c3m", 3, "x3")},
       |${ctx("c4m", 4, "x4")},
       |${ctx("c5m", 5, "x5")},
       |et5 AS MATERIALIZED (SELECT DISTINCT g FROM e5),
       |${sfxPlane("et5", 4, "et4")},
       |${sfxPlane("et4", 3, "et3")},
       |${sfxPlane("et3", 2, "prs")},
       |${sqlAttachNumDen("prs", "nd")},
       |p2c AS MATERIALIZED (SELECT g,
       |    GREATEST((m * $Q20) // den2, 1) AS p
       |  FROM (SELECT g, m,
       |      CASE WHEN den < $IlogMax THEN den
       |        ELSE CAST(error('kn q20 domain: den2 must be < 2^43, ' ||
       |          'got ' || den) AS BIGINT) END AS den2
       |    FROM nd)),
       |${sqlLevelCte(3, "et3", "c3m", "x3", "p2c", "p3c")},
       |${sqlLevelCte(4, "et4", "c4m", "x4", "p3c", "p4c")},
       |${sqlLevelCte(5, "et5", "c5m", "x5", "p4c", "p5c")},
       |sc50 AS (SELECT g, p AS m FROM p5c),
       |${NbLangid.sqlIlog("sc50", "il5", "g")},
       |sc AS MATERIALIZED (SELECT g,
       |    CAST($IlogQ20 - ilog AS BIGINT) AS nll FROM il5)""".stripMargin
  }

  private def sqlKn5Logprob: String =
    s"""WITH $sqlKn5Ctes
       |SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_5grams,
       |  CAST(SUM(nll) AS BIGINT) AS nll_q10,
       |  CAST(SUM(nll) // COUNT(*) AS BIGINT) AS nll_per_5gram_q10
       |FROM e5 JOIN sc USING (g)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def sqlTrustedIn: String =
    TrustedSources.map(s => s"'$s'").mkString(", ")

  private def sqlKn5LogprobRef: String =
    s"""WITH ${sqlKn5CtesOver(
          s"documents WHERE source IN ($sqlTrustedIn)",
          s"documents WHERE source NOT IN ($sqlTrustedIn)")}
       |SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_5grams,
       |  CAST(SUM(nll) AS BIGINT) AS nll_q10,
       |  CAST(SUM(nll) // COUNT(*) AS BIGINT) AS nll_per_5gram_q10
       |FROM e5 JOIN sc USING (g)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def sqlKn3Logprob: String =
    s"""WITH $sqlBigramModelCtes,
       |${sqlNgrams("t3", 3, "<> 0")},
       |${sqlNgrams("e3", 3, "= 0")},
       |c3 AS MATERIALIZED (SELECT g, CAST(COUNT(*) AS BIGINT) AS n3
       |  FROM t3 GROUP BY g),
       |c12 AS MATERIALIZED (SELECT
       |    string_split(g, ' ')[1] || ' ' || string_split(g, ' ')[2]
       |      AS ctx,
       |    CAST(SUM(n3) AS BIGINT) AS n12,
       |    CAST(COUNT(*) AS BIGINT) AS n1p12
       |  FROM c3 GROUP BY 1),
       |et3 AS MATERIALIZED (SELECT DISTINCT g FROM e3),
       |prs AS MATERIALIZED (SELECT DISTINCT
       |    string_split(g, ' ')[2] || ' ' || string_split(g, ' ')[3]
       |      AS g
       |  FROM et3),
       |${sqlAttachNumDen("prs", "nd")},
       |sc30 AS (SELECT et3.g,
       |    LEAST($Q20, GREATEST(1, CASE WHEN c12.n12 IS NULL THEN
       |      GREATEST((nd2.m * $Q20) // nd2.den, 1)
       |    ELSE COALESCE(((2 * c3.n3 - 1) * $Q20) // (2 * c12.n12), 0)
       |      + (c12.n1p12 * GREATEST((nd2.m * $Q20) // nd2.den, 1))
       |        // (2 * c12.n12) END)) AS m
       |  FROM et3
       |    LEFT JOIN c3 ON et3.g = c3.g
       |    LEFT JOIN c12 ON string_split(et3.g, ' ')[1] || ' ' ||
       |      string_split(et3.g, ' ')[2] = c12.ctx
       |    JOIN (SELECT g, m,
       |        CASE WHEN den < $IlogMax THEN den
       |          ELSE CAST(error(concat('kn3 q20 domain: den2 must ' ||
       |            'be < 2^43, got ', CAST(den AS VARCHAR)))
       |            AS BIGINT) END AS den
       |      FROM nd) nd2
       |      ON string_split(et3.g, ' ')[2] || ' ' ||
       |        string_split(et3.g, ' ')[3] = nd2.g),
       |${NbLangid.sqlIlog("sc30", "il3", "g")},
       |sc AS MATERIALIZED (SELECT g,
       |    CAST($IlogQ20 - ilog AS BIGINT) AS nll FROM il3)
       |SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_trigrams,
       |  CAST(SUM(nll) AS BIGINT) AS nll_q10,
       |  CAST(SUM(nll) // COUNT(*) AS BIGINT) AS nll_per_trigram_q10
       |FROM e3 JOIN sc USING (g)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val queries: Seq[Q] = Seq(

    // ---- the CCNet filter plane, properly smoothed: held-out docs
    //      scored under the train split's interpolated-KN bigram
    //      model — finite nll for EVERY doc, unseen bigrams included,
    //      in q10 log2 units with the floor-div per-bigram norm on
    //      the positive nll (Spark div == DuckDB //). ----
    Q("text_kn_logprob", Some(sqlKnLogprob)) { (s, dir) =>
      knLogprobMemo(s, dir).orderBy("doc_id")
    },

    // ---- the backoff recursion one level up: trigram interpolated
    //      KN over the Q20-quantized bigram-KN backoff — the
    //      higher-order chain the real (5-gram) CCNet filter stacks,
    //      every floor division a defined engine-identical op. ----
    Q("text_kn3_logprob", Some(sqlKn3Logprob)) { (s, dir) =>
      kn3Logprob(docs(s, dir)).orderBy("doc_id")
    },

    // ---- the backoff recursion at CCNet's ACTUAL model order: 5-gram
    //      interpolated KN through the generalized order-n Q20 chain —
    //      levels 3, 4 and 5 each interpolate their discounted MLE
    //      with the level below, grounded in the exact bigram-KN
    //      rationals; every floor division engine-identical, a loud
    //      domain guard at every level (den < 2^43 at the entry,
    //      cx < 2^41 above). Mirror unrolls the identical chain over
    //      the shared bigram-model / attach CTEs. The trained planes
    //      are fingerprint-memoized (build once per table, score per
    //      invocation). ----
    Q("text_kn5_logprob", Some(sqlKn5Logprob)) { (s, dir) =>
      kn5LogprobMemo(s, dir).orderBy("doc_id")
    },

    // ---- the GENUINELY two-corpus reference-LM shape — CCNet's
    //      production deployment: the 5-gram interpolated-KN model
    //      trains on a TRUSTED source slice (the curated-corpus
    //      stand-in) and scores EVERY doc of the remaining sources
    //      (the crawl), both %5 splits included — no held-out
    //      convention anywhere. Mirror chains the identical Q20 CTEs
    //      over the two genuinely different source relations. Model
    //      planes fingerprint-memoized under the `ref` variant. ----
    Q("text_kn5_logprob_ref", Some(sqlKn5LogprobRef)) { (s, dir) =>
      val d = docs(s, dir)
      val m = kn5Memo(dir, "documents", "ref")(
        buildKn5Model(d.where(col("source").isin(TrustedSources: _*))))
      kn5ScoreWith(m, d.where(!col("source").isin(TrustedSources: _*)))
        .orderBy("doc_id")
    },

    // ---- the KN plane APPLIED as CCNet's actual filter: held-out
    //      docs bucketed head/middle/tail by per-bigram perplexity
    //      terciles. The oracle states the semantics as NTILE(3) over
    //      the deterministic (nll, doc_id) order; the engine computes
    //      the IDENTICAL buckets via Sampling.ntileByScore's histogram
    //      discipline — one (score → count) aggregate on the slim
    //      per-doc plane (an eager checkpoint, so the scoring chain
    //      runs once), exact cutoff ranks on the metadata-sized
    //      histogram, doc_id ranking only inside boundary-score ties —
    //      no corpus-sized single-partition window at any scale.
    //      head = lowest perplexity = the split CCNet keeps for LM
    //      training. ----
    Q("pipeline_ppl_buckets", Some(
      s"""WITH $sqlBigramModelCtes,
         |${sqlNgrams("eb", 2, "= 0")},
         |et AS MATERIALIZED (SELECT DISTINCT g FROM eb),
         |${sqlAttachNumDen("et", "sc0")},
         |${NbLangid.sqlIlog("sc0", "iln", "g, den")},
         |scd AS (SELECT g, ilog AS ilog_num, den AS m FROM iln),
         |${NbLangid.sqlIlog("scd", "ild", "g, ilog_num")},
         |sc AS MATERIALIZED (SELECT g,
         |    CAST(ilog - ilog_num AS BIGINT) AS nll FROM ild),
         |per_doc AS (SELECT doc_id,
         |    CAST(SUM(nll) // COUNT(*) AS BIGINT) AS nll_per
         |  FROM eb JOIN sc USING (g) GROUP BY doc_id)
         |SELECT doc_id, nll_per,
         |  CAST(NTILE(3) OVER (ORDER BY nll_per, doc_id) AS INTEGER)
         |    AS bucket
         |FROM per_doc ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val scored = knLogprobMemo(s, dir)
        .select(col("doc_id"),
          col("nll_per_bigram_q10").as("nll_per"))
        .localCheckpoint()
      Sampling.ntileByScore(scored, "nll_per", "doc_id", 3)
        .select(col("doc_id"), col("nll_per"), col("bucket"))
        .orderBy("doc_id")
    },

    // ---- the tercile filter at the 5-GRAM model order (the twin of
    //      pipeline_ppl_buckets, re-pointed at CCNet's real model):
    //      head/middle/tail by per-5-gram perplexity — docs shorter
    //      than 5 tokens carry no 5-grams and leave the filter's
    //      domain, identically in both engines. Buckets via the same
    //      ntileByScore histogram discipline over the checkpointed
    //      slim score plane — the oracle's NTILE is the semantic
    //      statement, never the engine's plan. ----
    Q("pipeline_ppl_buckets_kn5", Some(
      s"""WITH $sqlKn5Ctes,
         |per_doc AS (SELECT doc_id,
         |    CAST(SUM(nll) // COUNT(*) AS BIGINT) AS nll_per
         |  FROM e5 JOIN sc USING (g) GROUP BY doc_id)
         |SELECT doc_id, nll_per,
         |  CAST(NTILE(3) OVER (ORDER BY nll_per, doc_id) AS INTEGER)
         |    AS bucket
         |FROM per_doc ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val scored = kn5LogprobMemo(s, dir)
        .select(col("doc_id"),
          col("nll_per_5gram_q10").as("nll_per"))
        .localCheckpoint()
      Sampling.ntileByScore(scored, "nll_per", "doc_id", 3)
        .select(col("doc_id"), col("nll_per"), col("bucket"))
        .orderBy("doc_id")
    })
}
