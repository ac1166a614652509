package graft.operators

import graft.{Memo, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents`: token/type statistics,
  * regex tokenization (BPE-ish character-class split), heuristic
  * language ID (stopword-count argmax), and document fingerprinting
  * (md5 of whitespace-normalized text). All codegen'd built-ins — no UDFs.
  *
  * The integer-only / exact-division output discipline keeps every column
  * hash-identical to the DuckDB oracle.
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private def matches(c: Column, pattern: String): Column =
    size(regexp_extract_all(c, lit(pattern), lit(0)))

  /** One exploded (doc_id, g) word-bigram row per occurrence (or per
    * distinct bigram with `distinctPerDoc`). Short-doc-safe: documents
    * under 2 tokens are filtered BEFORE the transform — `sequence(0,-1)`
    * evaluates to `[0,-1]` and `toks[i+1]` would throw under ANSI mode,
    * where the DuckDB oracle's end-exclusive `range(1,1)` is quietly
    * empty. Spread is keyed on doc_id so downstream per-doc aggregates
    * reuse the partitioning (see [[graft.Tables.spread]]). */
  private[operators] def bigramRows(d: DataFrame,
      distinctPerDoc: Boolean): DataFrame = ngramRows(d, 2, distinctPerDoc)

  /** Train/eval decontamination pairs: (train_doc, eval_doc, n_shared)
    * for every training doc (doc_id % 10 ≠ 0) sharing ≥ 3 RARE word
    * 5-grams (docfreq ≤ 20 within `d`) with an eval-split doc
    * (doc_id % 10 = 0) — the `pipeline_decontaminate` operator as a
    * reusable stage (the composed corpus-prep pipeline consumes it on
    * CLEANED text). Scale notes at the query registration. */
  def decontaminatePairs(d: DataFrame): DataFrame = {
    // the 5-gram strings (~30–40 bytes each) leave the plan here —
    // every downstream step (docfreq, rare filter, the rare attach,
    // the per-gram eval×train fold) uses grams only as EQUALITY keys,
    // so the 2×64-bit xxhash64 pair (16 fixed bytes; two
    // differently-seeded lanes ≈ md5's collision class) shuffles in
    // their place (guide §2.3); output (train_doc, eval_doc, n_shared)
    // is hash-agnostic and stays oracle-exact
    val bg = ngramRows(d, 5, distinctPerDoc = true)
      .select(col("doc_id"),
        struct(xxhash64(col("g")).as("h1"),
          xxhash64(lit(1L), col("g")).as("h2")).as("g"))
    // the docfreq aggregate feeds the rare set, the grand total and the
    // hot set through ONE reused exchange — not cached: a lazily built
    // cache made the plan depend on which consumer materialized it
    // first (one exchange and ~2x the shuffled records more, at random)
    val dfreq = bg.groupBy("g").agg(count(lit(1)).as("dfreq"))
    val rare = dfreq.where(col("dfreq") <= 20).select("g")
    val hot = Skew.hotKeysByCount(dfreq, "g", "dfreq")
    Skew.hotSaltedJoin(bg, rare, "g", hot, col("doc_id"))
      .groupBy("g").agg(
        collect_set(when(col("doc_id") % 10 === 0, col("doc_id")))
          .as("evals"),
        collect_set(when(col("doc_id") % 10 =!= 0, col("doc_id")))
          .as("trains"))
      .where(size(col("evals")) > 0 && size(col("trains")) > 0)
      .select(explode(col("trains")).as("train_doc"), col("evals"))
      .select(col("train_doc"), explode(col("evals")).as("eval_doc"))
      .groupBy("train_doc", "eval_doc")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 3)
  }

  /** The decontamination oracle — shared VERBATIM by
    * `pipeline_decontaminate` and `pipeline_decontaminate_bloom`: the
    * bloom prune is provably lossless (no false negatives), so both
    * must hash-match the same ground truth. */
  private def sqlDecontaminate: String =
    """WITH bg AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(toks) - 3),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |           toks[i+3] || ' ' || toks[i+4]))) AS g
      |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 5),
      |rare AS (SELECT g FROM bg GROUP BY g HAVING COUNT(*) <= 20),
      |bgr AS (SELECT bg.doc_id, bg.g FROM bg JOIN rare USING (g))
      |SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc,
      |  CAST(COUNT(DISTINCT t.g) AS BIGINT) AS n_shared
      |FROM bgr t JOIN bgr e ON t.g = e.g
      |  AND t.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
      |GROUP BY train_doc, eval_doc
      |HAVING COUNT(DISTINCT t.g) >= 3
      |ORDER BY train_doc, eval_doc""".stripMargin

  /** Mirror of the STATIC-plane decontamination flag — the streaming
    * gate's algebra ([[deconPlane]] + [[deconFlagged]]) over the
    * registered eval split: eval grams distinct per doc, rarity =
    * eval-docfreq ≤ 20, a train doc flags when it shares ≥ 3 distinct
    * plane grams with ONE eval doc. The gram explode reuses
    * [[sqlDecontaminate]]'s bg shape verbatim. */
  private def sqlDeconStatic: String =
    """WITH bg AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(toks) - 3),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |           toks[i+3] || ' ' || toks[i+4]))) AS g
      |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 5),
      |eg AS (SELECT doc_id AS eval_doc, g FROM bg WHERE doc_id % 10 = 0),
      |rare AS (SELECT g FROM eg GROUP BY g HAVING COUNT(*) <= 20),
      |plane AS (SELECT g, eval_doc FROM eg JOIN rare USING (g)),
      |hits AS (
      |  SELECT t.doc_id, p.eval_doc, COUNT(*) AS n_shared
      |  FROM bg t JOIN plane p USING (g)
      |  WHERE t.doc_id % 10 <> 0
      |  GROUP BY t.doc_id, p.eval_doc)
      |SELECT DISTINCT doc_id FROM hits WHERE n_shared >= 3
      |ORDER BY doc_id""".stripMargin

  /** Mirror of the MULTI-SUITE static decontamination flag
    * ([[deconPlaneSuites]] + [[deconFlaggedSuites]] over the
    * registered `% 10` eval split, suites = `% 20` within it):
    * rarity within (suite), fold keyed (doc, suite, eval_doc),
    * per-suite attribution in the output. The gram explode reuses
    * [[sqlDecontaminate]]'s bg shape verbatim. */
  private def sqlDeconSuites: String =
    """WITH bg AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(toks) - 3),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
      |           toks[i+3] || ' ' || toks[i+4]))) AS g
      |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 5),
      |eg AS (SELECT doc_id AS eval_doc,
      |         CASE WHEN doc_id % 20 = 0 THEN 'suite_a'
      |              ELSE 'suite_b' END AS eval_suite, g
      |       FROM bg WHERE doc_id % 10 = 0),
      |rare AS (SELECT eval_suite, g FROM eg
      |         GROUP BY eval_suite, g HAVING COUNT(*) <= 20),
      |plane AS (SELECT g, eval_suite, eval_doc
      |          FROM eg JOIN rare USING (eval_suite, g)),
      |hits AS (
      |  SELECT t.doc_id, p.eval_suite, p.eval_doc, COUNT(*) AS n_shared
      |  FROM bg t JOIN plane p USING (g)
      |  WHERE t.doc_id % 10 <> 0
      |  GROUP BY t.doc_id, p.eval_suite, p.eval_doc)
      |SELECT DISTINCT doc_id, eval_suite FROM hits WHERE n_shared >= 3
      |ORDER BY doc_id, eval_suite""".stripMargin

  /** The eval-side gram bloom filter, built once per documents table
    * and probed many times (Spark's own runtime filter rebuilds per
    * query, a production pipeline would not). */
  private val bloomMemo = new Memo[Array[Byte]]

  /** BLOOM-PRUNED decontamination — result-identical to
    * [[decontaminatePairs]] (same oracle!), with the train-side gram
    * stream pruned by a bloom filter built over the EVAL slice's
    * grams BEFORE anything shuffles: a train gram absent from every
    * eval doc can never produce a pair, and the filter has no false
    * negatives, so dropping non-members at the scan side is lossless
    * (false positives merely ride along and fail the evals>0 test —
    * the `q_zorder_prune` skip-proof discipline applied to semi-join
    * pushdown; MetricsSpec-style assertions pin the actual row/byte
    * drop).
    *
    * Spark's automatic `InjectRuntimeFilter` CANNOT do this here: its
    * application-side threshold (10 GB scan) never fires at any
    * realistic eval-slice size, and the creation side must be a join
    * child, not an aggregate — so the engine builds the SAME internal
    * expressions explicitly (`bloom_filter_agg` / `might_contain`,
    * injected in GraftExtensions) over xxhash64(g). The build is one
    * pass over the eval slice only (tiny in practice: contamination
    * sources are benchmark test sets) and the ~128 KB filter is the
    * bounded driver sync Spark's own rule would broadcast anyway;
    * rarity (df ≤ 20) stays corpus-wide — the docfreq aggregate is
    * unchanged, only the expensive occurrence-stream attach shrinks. */
  def decontaminateBloomPairs(d: DataFrame, dirKey: String): DataFrame = {
    val bg = ngramRows(d, 5, distinctPerDoc = true)
    val evalBg = bg.where(col("doc_id") % 10 === 0)
    val bf = bloomMemo(dirKey, "documents", "eval-bloom")(
      evalBg.agg(expr(
        s"bloom_filter_agg(xxhash64(g), ${1L << 16}L, ${1L << 20}L)")
        .as("bf"))
        .collect()(0).getAs[Array[Byte]](0))
    // ONE stream, one filter: eval rows pass outright, train rows only
    // on a bloom hit — a union of separately-filtered branches would
    // re-run the gram explode (and its spread exchange) per branch
    val pruned = bg.where(col("doc_id") % 10 === 0 ||
      call_function("might_contain", lit(bf), xxhash64(col("g"))))
    // not cached, as in decontaminatePairs
    val dfreq = bg.groupBy("g").agg(count(lit(1)).as("dfreq"))
    val rare = dfreq.where(col("dfreq") <= 20).select("g")
    val hot = Skew.hotKeysByCount(dfreq, "g", "dfreq")
    Skew.hotSaltedJoin(pruned, rare, "g", hot, col("doc_id"))
      .groupBy("g").agg(
        collect_set(when(col("doc_id") % 10 === 0, col("doc_id")))
          .as("evals"),
        collect_set(when(col("doc_id") % 10 =!= 0, col("doc_id")))
          .as("trains"))
      .where(size(col("evals")) > 0 && size(col("trains")) > 0)
      .select(explode(col("trains")).as("train_doc"), col("evals"))
      .select(col("train_doc"), explode(col("evals")).as("eval_doc"))
      .groupBy("train_doc", "eval_doc")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 3)
  }

  /** STATIC decontamination plane for the CONTINUOUS prepare (r15):
    * the eval set is FIXED at stream construction (benchmark suites
    * are known upfront — the NbModel static-router precedent), so the
    * per-doc gate is stateless and batch-restrictable. `grams` is the
    * (g, eval_doc) plane over the eval set's distinct word 5-grams
    * restricted to grams RARE WITHIN THE EVAL SET (eval-docfreq ≤ 20
    * — the batch operator's corpus-wide rarity cannot be known
    * mid-stream; rarity's job is to ignore boilerplate grams, and the
    * eval-side restriction is its static form, stated here as the
    * contract). `bloom` is the eval-gram filter for scan-side pruning
    * (no false negatives — the [[decontaminateBloomPairs]] lossless
    * argument verbatim). Both are built ONCE: the plane is eval-sized
    * metadata, the filter a ~128 KB broadcastable literal. */
  final case class DeconPlane(grams: DataFrame, bloom: Array[Byte])

  def deconPlane(evalDocs: DataFrame): DeconPlane = {
    val eg = ngramRows(evalDocs.select(col("doc_id"), col("text")),
      5, distinctPerDoc = true).cache()
    val rare = eg.groupBy("g").agg(count(lit(1)).as("__df"))
      .where(col("__df") <= 20).select("g")
    val grams = eg.join(rare, Seq("g"), "left_semi")
      .select(col("g"), col("doc_id").as("eval_doc"))
      .localCheckpoint()
    eg.unpersist()
    DeconPlane(grams, gramBloom(grams))
  }

  /** The eval-gram bloom, sized FROM the plane's actual cardinality
    * (r16 advice — a fixed 2²⁰-bit geometry saturates on a realistic
    * eval suite with millions of rare 5-grams, FP → 1, silently
    * disabling the scan-side prune at exactly the scale it targets):
    * 16 bits/item (~4×10⁻⁴ FP at the built size — the prune stays
    * real), floored at the old 128 KB, capped at 16 MB (still a
    * bounded driver sync / broadcast literal; past that cap FP
    * degrades gracefully and correctness never moves — the filter
    * has no false negatives at ANY size). The count is one pass over
    * the checkpointed eval-sized plane.
    *
    * `bloom_filter_agg` SILENTLY clamps its arguments to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` /
    * `.maxNumItems` (defaults 2²⁶ bits / 4M items — below this
    * sizing's own 2²⁷-bit / unbounded-item geometry), which would
    * quietly re-degrade the prune at exactly the large-suite scale
    * the r16 sizing targets (r17 advice) — so the one aggregate runs
    * in a FORKED session with the caps raised THERE (r18 advice: the
    * r17 raise-and-restore on the caller's session left a window
    * where a concurrent query could observe the raised caps, and two
    * concurrent gramBloom calls could interleave set/restore). The
    * fork shares the SparkContext; the grams frame — already
    * `localCheckpoint`'d by both callers — re-binds to it through
    * its materialized RDD, so nothing recomputes and the calling
    * session's conf is never touched. */
  private[operators] def gramBloom(grams: DataFrame): Array[Byte] = {
    val n = math.max(1L << 10, grams.count())
    val bits = math.min(1L << 27, math.max(1L << 20, n * 16))
    val s2 = grams.sparkSession.newSession()
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", bits)
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", n)
    s2.createDataFrame(grams.rdd, grams.schema)
      .agg(expr(s"bloom_filter_agg(xxhash64(g), ${n}L, ${bits}L)")
        .as("bf")).collect()(0).getAs[Array[Byte]](0)
  }

  /** doc_ids of `batchDocs` (doc_id, text) sharing ≥ 3 distinct rare
    * eval 5-grams with any single eval doc of the static `plane` —
    * the continuous prepare's decontamination flag, per batch. The
    * batch gram stream prunes on the bloom BEFORE the join (a gram
    * absent from every eval doc can never pair; false positives fail
    * the join), then one equijoin against the eval-sized plane and a
    * (doc, eval_doc) fold. Per-doc stateless given the plane, so the
    * accumulated stream output equals the batch-composition flag over
    * the union by construction. */
  def deconFlagged(batchDocs: DataFrame, plane: DeconPlane): DataFrame =
    ngramRows(batchDocs, 5, distinctPerDoc = true)
      .where(call_function("might_contain", lit(plane.bloom),
        xxhash64(col("g"))))
      .join(plane.grams.hint("shuffle_hash"), Seq("g"))
      .groupBy(col("doc_id"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 3)
      .select("doc_id").distinct()

  /** MULTI-SUITE static decontamination plane (r16 — r15 verdict
    * #5): production decontaminates against MANY benchmark suites at
    * once and needs per-suite ATTRIBUTION (which benchmark leaked
    * into which doc), so the plane carries an `eval_suite` column
    * and rarity is WITHIN (suite) — each suite prunes its own
    * boilerplate independently, exactly as running [[deconPlane]]
    * once per suite would, but in ONE pass over the union and ONE
    * shared bloom (lossless across suites: a gram absent from every
    * suite can never pair). `grams` is (g, eval_suite, eval_doc). */
  final case class DeconPlaneSuites(grams: DataFrame, bloom: Array[Byte])

  def deconPlaneSuites(evalDocs: DataFrame): DeconPlaneSuites = {
    val eg = ngramRows(evalDocs.select(col("doc_id"), col("text")),
      5, distinctPerDoc = true)
      // suite re-attach: the eval-doc → suite map is eval-sized
      // metadata, broadcast — the gram stream never shuffles for it
      .join(broadcast(evalDocs.select(col("doc_id"),
        col("eval_suite"))), Seq("doc_id"))
      .cache()
    val rare = eg.groupBy("eval_suite", "g")
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") <= 20).select("eval_suite", "g")
    val grams = eg.join(rare, Seq("eval_suite", "g"), "left_semi")
      .select(col("g"), col("eval_suite"), col("doc_id").as("eval_doc"))
      .localCheckpoint()
    eg.unpersist()
    DeconPlaneSuites(grams, gramBloom(grams))
  }

  /** (doc_id, eval_suite) pairs of `batchDocs` docs sharing ≥ 3
    * distinct suite-rare 5-grams with any single eval doc OF THAT
    * SUITE — [[deconFlagged]] with per-suite attribution: the fold is
    * keyed (doc, suite, eval_doc), so a doc contaminated by two
    * suites reports both, and the flat drop set is `select(doc_id)
    * .distinct` of this. Restricted to one suite it equals the
    * single-plane flag exactly (the registered twin queries pin both
    * under the cross-engine oracle). */
  def deconFlaggedSuites(batchDocs: DataFrame,
      plane: DeconPlaneSuites): DataFrame =
    ngramRows(batchDocs, 5, distinctPerDoc = true)
      .where(call_function("might_contain", lit(plane.bloom),
        xxhash64(col("g"))))
      .join(plane.grams.hint("shuffle_hash"), Seq("g"))
      .groupBy(col("doc_id"), col("eval_suite"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 3)
      .select("doc_id", "eval_suite").distinct()

  /** Generalized word n-gram explode — the single place the shingle
    * pipeline's disciplines live (ANSI short-doc pre-filter, keyed
    * spread, generator-safe explode-of-expression shape). */
  private[operators] def ngramRows(d: DataFrame, n: Int,
      distinctPerDoc: Boolean): DataFrame = {
    require(n >= 2)
    val toks = split(col("text"), "\\s+")
    val terms = (0 until n).map(j => s"toks[i+$j]").mkString(", ")
    val ngExpr = expr(
      s"transform(sequence(0, size(toks)-$n), i -> concat_ws(' ', $terms))")
    val arr = if (distinctPerDoc) array_distinct(ngExpr) else ngExpr
    Tables.spread(d, col("doc_id"))
      .select(col("doc_id"), toks.as("toks"))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"), explode(arr).as("g"))
  }

  /** Language-ID stopword patterns; tie-break priority en>de>fr>es>und. */
  private val langPatterns = Seq(
    "en" -> "\\b(the|a|of|and|is|to)\\b",
    "de" -> "\\b(der|die|das|und|ist)\\b",
    "fr" -> "\\b(le|les|et|est|une)\\b",
    "es" -> "\\b(el|los|y|es|una)\\b")

  private val sqlLangPatterns = langPatterns

  /** The fixed argmax-with-priority label over the four score columns —
    * ONE definition shared by [[langid]] and the confusion-matrix query
    * so the decision rule cannot diverge between them. */
  private def langPredCol: org.apache.spark.sql.Column =
    when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
      col("s_en") >= col("s_es") && col("s_en") > 0, "en")
      .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es") &&
        col("s_de") > 0, "de")
      .when(col("s_fr") >= col("s_es") && col("s_fr") > 0, "fr")
      .when(col("s_es") > 0, "es")
      .otherwise("und")

  /** Heuristic language ID over a (doc_id, text) frame: per-language
    * stopword hit counts + argmax label (`und` when no language scores). */
  def langid(df: DataFrame): DataFrame = {
    val scored = df.select(
      col("doc_id") +: langPatterns.map { case (l, p) =>
        matches(col("text"), p).as(s"s_$l")
      }: _*)
    scored.select(col("doc_id"), col("s_en"), col("s_de"), col("s_fr"),
      col("s_es"), langPredCol.as("lang_pred"))
      .orderBy("doc_id")
  }

  /** Character-class token counts (alpha runs / digit runs / other
    * non-space symbols) over a (doc_id, text) frame. */
  def bpeishTokens(df: DataFrame): DataFrame = {
    val lowered = lower(col("text"))
    df.select(
      col("doc_id"),
      matches(lowered, "[a-z]+").as("n_alpha"),
      matches(lowered, "[0-9]+").as("n_num"),
      matches(lowered, "[^a-z0-9\\s]").as("n_other"))
      .orderBy("doc_id")
  }

  /** Heuristic quality score over a (doc_id, text) frame: stopword ratio,
    * punctuation density, mean token length, and a composite keep/drop
    * label — the standard pre-training corpus filters. All integer or
    * exact-ratio outputs so the oracle hash-matches. */
  def qualityScore(df: DataFrame): DataFrame = {
    val toks = split(col("text"), "\\s+")
    val nTokens = size(toks)
    val nStop = matches(col("text"),
      "\\b(the|a|an|of|and|or|is|are|to|in|that|it|as|for|with)\\b")
    val nPunct = matches(col("text"), "[.,;:!?]")
    val nChars = length(col("text"))
    df.select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      nStop.as("n_stopwords"),
      nPunct.as("n_punct"),
      (nStop.cast("double") / nTokens).as("stopword_ratio"),
      (nPunct.cast("double") / nChars).as("punct_ratio"),
      ((nChars - (nTokens - lit(1))).cast("double") / nTokens)
        .as("mean_tok_len"),
      (nTokens >= 5 && nStop > 0 &&
        (nPunct.cast("double") / nChars) < 0.1).as("keep"))
      .orderBy("doc_id")
  }

  /** Gopher-style (MassiveText) document-quality rule flags over a
    * (doc_id, text) frame: the published rule FAMILY — word-count
    * bounds, mean-word-length bounds, symbol-to-word ratio, distinct-
    * stopword presence — with thresholds tuned to the synthetic corpus
    * so every rule discriminates (the paper's 50..100k word bound would
    * pass/fail this corpus wholesale). Every comparison is an integer
    * cross-multiplication and the reported mean word length is an exact
    * scaled-integer floor division — no float anywhere, so the oracle
    * hash-matches cell-exact. Complements [[qualityScore]] (ratio
    * diagnostics) with the rule-gate form an LLM corpus filter actually
    * applies; the repetition-family rules live in `text_repetition`. */
  def gopherRules(df: DataFrame): DataFrame = {
    val nWords = size(split(col("text"), "\\s+"))
    val nChars = length(col("text"))
    // total word characters: doc length minus the single spaces between
    // words (the corpus is single-space separated — see text_quality's
    // identical mean_tok_len derivation)
    val wordChars = nChars - (nWords - lit(1))
    val nSym = matches(col("text"), "#|\\.\\.\\.")
    val stops = Seq("the", "a", "of", "and", "to", "in", "is", "that")
    val nStopDistinct = stops
      .map(w => when(col("text").rlike(s"\\b$w\\b"), 1).otherwise(0))
      .reduce(_ + _)
    val gWords = nWords >= 20 && nWords <= 80
    val gWlen = wordChars * 100 >= nWords * 300 &&
      wordChars * 100 <= nWords * 1000
    val gSym = nSym * 10 <= nWords
    val gStop = nStopDistinct >= 2
    df.select(
      col("doc_id"),
      nWords.cast("int").as("n_words"),
      floor(wordChars * 100 / nWords).cast("long").as("wlen_x100"),
      nSym.cast("int").as("n_sym"),
      nStopDistinct.cast("int").as("n_stop_distinct"),
      gWords.as("g_words"), gWlen.as("g_wlen"), gSym.as("g_sym"),
      gStop.as("g_stop"),
      (gWords && gWlen && gSym && gStop).as("keep"))
      .orderBy("doc_id")
  }

  /** Corpus-derived stopword strip over a (doc_id, text) frame: drop
    * every token whose document frequency reaches `num/den` of the
    * corpus (integer threshold — df·den ≥ n_docs·num) and reassemble
    * each document's surviving tokens in original order. Returns
    * (doc_id, n_kept, n_dropped, clean_text).
    *
    * Skew-proof by construction (rewritten round 7): the occurrence
    * stream is Zipf-keyed, and its round-6 `join(dfreq, "tok")` relied
    * on a "left to AQE" comment that turned out to be FALSE at
    * vocab-beyond-broadcast scale — `OptimizeSkewedJoin` cannot fire on
    * an aggregate-fed join side (see [[Skew]]'s scaladoc), so the hot
    * token's occurrences would have serialized through one task. The
    * fix exploits the operator's own semantics: tokens at df ≥
    * (num/den)·n_docs number AT MOST avgDocLen·den/num — each doc has
    * finitely many distinct tokens, so the drop set is bounded by mean
    * document length REGARDLESS of corpus size — and therefore
    * broadcasts at any scale. The corpus-scale stream now never
    * shuffles on the token key at all: the docfreq aggregate is
    * skew-safe (map-side partial aggregation — hot keys combine before
    * the exchange), the drop test is a broadcast-hash probe, and the
    * rebuild aggregate reuses the doc_id spread. */
  def stripCorpusStopwords(d: DataFrame, num: Int, den: Int): DataFrame = {
    val toks = Tables.spread(d, col("doc_id"))
      .select(col("doc_id"),
        posexplode(split(col("text"), "\\s+")).as(Seq("pos", "tok")))
    val dfreq = toks.groupBy("tok")
      .agg(countDistinct("doc_id").as("df"))
    val total = d.agg(count(lit(1)).as("n_docs"))
    val dropSet = dfreq.crossJoin(broadcast(total))
      .where(col("df") * den >= col("n_docs") * num)
      .select(col("tok"), lit(true).as("__drop"))
    val keep = col("__drop").isNull
    toks.join(broadcast(dropSet), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(
        sum(when(keep, 1).otherwise(0)).cast("int").as("n_kept"),
        sum(when(keep, 0).otherwise(1)).cast("int").as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(when(keep,
              struct(col("pos"), col("tok"))))),
            x => x.getField("tok")),
          " ").as("clean_text"))
  }

  /** Per-document mean log2 P(w2|w1) under the corpus's own bigram
    * counts, over a (doc_id, text) frame. Prefix counts derive from the
    * aggregated bigram counts (no second corpus pass). Returns
    * (doc_id, n_bigrams, avg_logp_r) — the mean display-rounded to 4
    * decimals (the entropy_r convention). Documents under 2 tokens
    * produce no row (they have no bigrams).
    *
    * Skew handling (rewritten round 7): the round-6 form joined the
    * corpus-scale occurrence stream TWICE on Zipf-distributed keys ("of
    * the"; "of") with a "left to AQE" comment — but the count sides
    * outgrow broadcast at web-corpus bigram cardinality and AQE's skew
    * split structurally cannot fire on aggregate-fed joins (see
    * [[Skew]]). Now each DISTINCT bigram is scored once on the VOCAB
    * plane (`cnt2 ⋈ cnt1` on w1 — per-key fan bounded by distinct
    * continuations, vocab-scale not corpus-scale), and the occurrence
    * stream pays ONE attach, routed through [[Skew.hotSaltedJoin]] with
    * the self-scaling bounded hot set (count ≥ total div 2²⁰). The
    * count aggregates themselves are skew-safe (map-side partial
    * aggregation). `cnt2` is `.cache()`d — referenced by the prefix
    * counts, the scored vocab, the grand total, and the hot set — under
    * the same clear-between-queries policy as the MinHash signature
    * caches. */
  def bigramLogprob(d: DataFrame): DataFrame = {
    val bg = bigramRows(d, distinctPerDoc = false)
    val cnt2 = bg.groupBy("g").agg(count(lit(1)).as("n2")).cache()
    val cnt1 = cnt2
      .groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum("n2").cast("long").as("n1"))
    // Pinned shuffle-hash: at web-corpus vocab, cnt1 outgrows broadcast
    // (the whole point of scoring on the vocab plane), and leaving the
    // strategy to AQE makes the plan NONDETERMINISTIC at toy scale —
    // runtime stats for the cached cnt2 depend on whether another
    // branch's job materialized it first, flipping this join between
    // broadcast and shuffle run-to-run (observed: 6 vs 7 exchanges).
    // cnt1 is built by a groupBy(w1) so its side arrives w1-partitioned.
    val scored = cnt2
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .join(cnt1.hint("shuffle_hash"), "w1")
      .select(col("g"),
        (log(col("n2") / col("n1").cast("double")) / log(lit(2d))).as("lp"))
    val hot = Skew.hotKeysByCount(cnt2, "g", "n2")
    Skew.hotSaltedJoin(bg, scored, "g", hot, col("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        round(sum(col("lp")) / count(lit(1)), 4).as("avg_logp_r"))
  }

  /** Per-document top-`k` keyword extraction, tf-idf flavored: tokens
    * ranked within each doc by (tf desc, df asc, tok asc) after a
    * document-frequency cap (df ≤ 0.9·n_docs, integer-exact — the
    * stopword cut; 90% rather than the textbook 50% so corpora with
    * small vocabularies keep a meaningful candidate set). The RANK key is integer-exact — term frequency, document
    * frequency, token — so top-k membership is deterministic
    * engine-over-engine (the stratified-sample md5-rank argument); the
    * continuous tf·idf value rides along display-rounded
    * (`tfidf_r = round(tf · log2(n_docs/df), 4)`, the entropy_r
    * convention) as the diagnostic, never the sort key.
    *
    * Scale shape: `tf` (one row per distinct (doc, tok)) is the corpus
    * plane; `dfreq` derives from it by a tok-keyed count — no second
    * corpus pass — and attaches back through [[Skew.hotSaltedJoin]]
    * (a corpus-wide token like "the" holds one `tf` row per document —
    * the Zipf shape AQE cannot split here, see [[Skew]]). The rank
    * window is doc-bounded. `tf` is `.cache()`d (referenced by the
    * attach and the df derivation) under the clear-between-queries
    * policy of the MinHash signature caches. */
  def docKeywords(d: DataFrame, k: Int = 5): DataFrame = {
    val tf = Tables.spread(d, col("doc_id"))
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .cache()
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val tot = tf.agg(count(lit(1)).cast("long").as("__t"))
    val hot = dfreq.crossJoin(broadcast(tot))
      .where(col("df") >=
        greatest(expr(s"__t div ${Skew.HotKeyFanout}"), lit(Skew.MinHotCount)))
      .select("tok")
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("tok").asc)
    Skew.hotSaltedJoin(tf, dfreq, "tok", hot, col("doc_id"))
      .crossJoin(broadcast(nDocs))
      .where(col("df") * 10 <= col("n_docs") * 9)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("tok"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df"))
          / log(lit(2d)), 4).as("tfidf_r"))
  }

  /** Rare word-n-gram inverted index: for every n-gram with document
    * frequency ≤ `maxDf`, the sorted posting list of containing docs —
    * the lookup structure a decontamination / contamination-audit pass
    * probes (rare shingles are the discriminative ones; the Zipf head
    * carries no signal and no index ever materializes it).
    *
    * Scale shape: df comes from a map-side-combined aggregate
    * (skew-safe). The posting aggregation is the dangerous stage — a
    * corpus-wide gram would funnel its whole occurrence stream into
    * one task — so the bounded Zipf head (count ≥ the [[Skew]]
    * self-scaling cutoff) is dropped by broadcast anti-probe BEFORE
    * the posting shuffle. That drop is semantically free: the cutoff
    * is ≥ [[Skew.MinHotCount]] ≫ `maxDf`, so no dropped gram could
    * have been rare. Surviving keys carry < cutoff rows each — no
    * partition hotspot — and `maxDf` then bounds the emitted lists. */
  def rareNgramIndex(d: DataFrame, n: Int = 3, maxDf: Long = 5)
      : DataFrame = {
    require(maxDf < Skew.MinHotCount,
      "maxDf must sit below the hot cutoff or the head drop loses rows")
    val grams = ngramRows(d, n, distinctPerDoc = true)
    val dfreq = grams.groupBy("g").agg(count(lit(1)).as("df")).cache()
    val hot = Skew.hotKeysByCount(dfreq, "g", "df")
      .withColumn("__hot", lit(true))
    grams.join(broadcast(hot), Seq("g"), "left")
      .where(col("__hot").isNull).drop("__hot")
      .groupBy("g")
      .agg(count(lit(1)).as("df"),
        array_join(
          transform(sort_array(collect_list(col("doc_id"))),
            _.cast("string")), " ").as("postings"))
      .where(col("df") <= maxDf)
  }

  // ---- unicode canonicalization (the pre-dedup normalizer) ----

  /** Canonical text form: NFC normalization (the native
    * [[graft.functions.NfcNormalize]] expression — mixed encodings of
    * the same text compose to one representation) → punctuation and
    * symbol runs folded to a single space → whitespace collapsed →
    * trimmed. This is the transform every real dedup pass runs FIRST:
    * without it, `é` (U+00E9) and `e`+U+0301 — or `don't` vs `don`
    * `'` `t` tokenizations — hash apart and every downstream
    * shingle/window/digest misses the duplicate. The regex classes
    * (`\p{P}`, `\p{S}`) are Unicode general categories with identical
    * semantics in Java regex and DuckDB's RE2.
    *
    * Wiring: the canonicalizer is an optional FRONT of the
    * shingle/window builders — every Dedup entry point takes a
    * DataFrame, so `dedup over canonical text` is
    * `xxx(canonicalized(d))` (and exact dedup is
    * `Dedup.exactKeepMin(d, canonicalCol(), ...)`);
    * TextAnalysisSpec demonstrates two non-NFC-equal encodings of one
    * text that dedup together ONLY through this path. */
  def canonicalCol(textCol: String = "text"): Column =
    trim(regexp_replace(
      regexp_replace(expr(s"nfc_normalize($textCol)"),
        "[\\p{P}\\p{S}]+", " "),
      "\\s+", " "))

  /** `d` with its `text` column canonicalized — the composable form. */
  def canonicalized(d: DataFrame): DataFrame =
    d.withColumn("text", canonicalCol())

  // ---- PII scrub + line-rule boilerplate drop (fullPrepare stage 1) --

  /** A surviving line needs at least this many whitespace words (C4's
    * short-line drop, at the nav-menu threshold) AND 80% of them must
    * carry an alphabetic character (Gopher's alphabetic-word rule at
    * RefinedWeb's line granularity — counters, bare numbers and
    * symbol runs fall under it). */
  val MinScrubLineWords = 3

  private[operators] val ScrubUrlRe = "https?://\\S+"
  private[operators] val ScrubEmailRe =
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"

  /** IPv4 literal (r14 — the Dolma/CCNet scrub class): four 1–3 digit
    * groups, word-boundary anchored so a longer dotted run is not
    * half-eaten. Both engines' regex dialects (Java, RE2) support
    * `\b` and bounded repetition identically. */
  private[operators] val ScrubIpRe = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** Phone number (r14): optional +country-code group, then 3-3-4
    * digit groups with optional single separators / area-code parens
    * — the pragmatic NANP-shaped pattern production scrubs (Dolma
    * class) run; a bare 10-digit run matches too, by design. Applied
    * AFTER [[ScrubIpRe]] so a dotted quad is never half-consumed as
    * a phone prefix. */
  private[operators] val ScrubPhoneRe =
    "(\\+?\\d{1,2}[ .-]?)?\\(?\\d{3}\\)?[ .-]?\\d{3}[ .-]?\\d{4}"

  /** The full redaction chain as ONE SQL expression over `c` —
    * generated from the SAME pattern constants the Spark side
    * compiles (no drift possible), shared by the `text_scrub_lines`
    * oracle and [[Prepare.sqlScrubCanonCtes]] (every composed
    * prepare). Order matches [[scrubText]]: URL, EMAIL, IP, PHONE. */
  private[operators] def sqlScrubRedact(c: String): String =
    s"regexp_replace(regexp_replace(regexp_replace(regexp_replace($c,\n" +
      s"          '$ScrubUrlRe', '<URL>', 'g'),\n" +
      s"          '$ScrubEmailRe', '<EMAIL>', 'g'),\n" +
      s"          '$ScrubIpRe', '<IP>', 'g'),\n" +
      s"          '$ScrubPhoneRe', '<PHONE>', 'g')"

  /** The pre-canonicalization cleaning C4/RefinedWeb run on RAW
    * extracted text — composed as [[Prepare.fullPrepare]]'s stage 1.
    * It MUST precede canonicalization: the canonical fold erases the
    * punctuation PII patterns match on and the newline structure the
    * line rules need (a URL is `https x com` on the canonical plane).
    *
    *  1. PII redaction — URL, email, IPv4 and phone spans → `<URL>` /
    *     `<EMAIL>` / `<IP>` / `<PHONE>` (URL/email are `text_scrub`'s
    *     exact patterns; IP/phone widen the pass to the Dolma/CCNet
    *     class set, r14 — IP before phone so a dotted quad is never
    *     half-consumed as a phone prefix);
    *  2. line rules — a line survives iff it carries ≥
    *     [[MinScrubLineWords]] whitespace words AND 5·n_alpha_words ≥
    *     4·n_words (a word is alphabetic when it contains [A-Za-z]).
    *
    * Pure integer/regex per-row work — one narrow projection, no
    * exchange; the mirror replays the identical operations via
    * [[sqlScrubRedact]], generated from the same pattern constants
    * (DuckDB `array_to_string(list_filter(...))` NULLs on an empty
    * list where Spark's `array_join` returns '', so the mirror
    * coalesces). The crawl front reaches this stage with single-line
    * text — its [[Crawl.htmlToText]] already ran the line-level
    * boilerplate drop, so here only the PII pass bites. */
  def scrubText(text: Column): Column = {
    val red = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(text, ScrubUrlRe, "<URL>"),
      ScrubEmailRe, "<EMAIL>"),
      ScrubIpRe, "<IP>"),
      ScrubPhoneRe, "<PHONE>")
    val kept = filter(split(red, "\n"), l => {
      val ws = split(l, "\\s+")
      val nAlpha = size(filter(ws, w => w.rlike("[A-Za-z]")))
      size(ws) >= lit(MinScrubLineWords) &&
        nAlpha * 5 >= size(ws) * 4
    })
    array_join(kept, "\n")
  }

  /** `d` scrubbed; documents whose every line dropped leave the
    * corpus (identically in both engines). */
  def scrubbed(d: DataFrame): DataFrame =
    d.withColumn("text", scrubText(col("text")))
      .where(length(col("text")) > 0)

  // ---- count-min frequency sketch (heavy hitters) ----

  /** Count-min geometry: 4 rows × 1024 buckets = a 4096-cell table —
    * FIXED memory regardless of vocabulary size, the whole point of
    * the sketch at 100 TB (the exact top-k twin needs a full-vocab
    * aggregate). Hashes are md5-derived (the [[Dedup.md5Scheme]]
    * discipline) so DuckDB replays every cell bit-for-bit. */
  val CmsRows = 4
  val CmsWidth = 1024L

  /** Row-`j` bucket of a token: md5-derived 28-bit int mod width —
    * identical arithmetic in both engines. */
  private def cmsBucket(tok: Column, j: Int): Column =
    conv(substring(md5(concat(lit(s"$j:"), tok)), 1, 7), 16, 10)
      .cast("long") % CmsWidth

  private def cmsFan(tok: Column): Column =
    explode(array((0 until CmsRows).map(j =>
      struct(lit(j).as("j"), cmsBucket(tok, j).as("b"))): _*))

  /** The sketch: ONE keyed aggregate onto the (row, bucket) plane.
    * Input: a `tok` column, one row per occurrence. */
  def cmsCells(toks: DataFrame): DataFrame =
    toks.select(cmsFan(col("tok")).as("c"))
      .groupBy(col("c.j").as("j"), col("c.b").as("b"))
      .agg(count(lit(1)).as("cnt"))

  /** CMS point estimates for a (small) token set: est(t) = min over
    * rows of that row's bucket count. STRUCTURALLY one-sided — every
    * bucket sum includes the token's own occurrences, so est ≥ true
    * count, always; collisions only ever inflate. That one-sidedness
    * is what makes the sketch a sound CANDIDATE generator: any token
    * with true count ≥ τ has est ≥ τ, so the est-≥-τ set is a
    * superset of the true hot set (spec'd on a Zipf corpus). */
  def cmsEstimates(tokens: DataFrame,
      cells: DataFrame): DataFrame =
    tokens.select(col("tok"), cmsFan(col("tok")).as("c"))
      .select(col("tok"), col("c.j").as("j"), col("c.b").as("b"))
      .join(broadcast(cells), Seq("j", "b"))
      .groupBy("tok").agg(min("cnt").as("est"))

  /** The sketch as a FOLDABLE LITERAL plus its grand total: build the
    * 4×1024 cell table in one fixed-state pass, collect it (≤ 4096
    * rows / 32 KB — the bloom-literal / Layout-manifest bounded-sync
    * precedent), and return (2-D array literal, N). N falls out for
    * free: every sketch row's cells sum to the total token count, so
    * the [[Skew]] cutoff `max(N div fanout, MinHotCount)` needs no
    * separate aggregate. This is the hot-set derivation for pipelines
    * that do NOT otherwise need per-key counts ([[Skew.hotSaltedJoinBy]]). */
  def cmsSketchLiteral(toks: DataFrame): (Column, Long) = {
    val arr = Array.fill(CmsRows, CmsWidth.toInt)(0L)
    cmsCells(toks).collect().foreach { r =>
      arr(r.getInt(0))(r.getLong(1).toInt) = r.getLong(2)
    }
    (typedlit(arr.map(_.toSeq).toSeq), arr(0).sum)
  }

  /** Point estimate of `tok` against a sketch literal: min over rows
    * of the row's bucket cell — a pure codegen'd expression (four md5
    * probes into a constant array), usable as [[Skew.hotSaltedJoinBy]]'s
    * per-row hot predicate. Same one-sidedness as [[cmsEstimates]]. */
  def cmsEstCol(tok: Column, cellsLit: Column): Column =
    least((0 until CmsRows).map { j =>
      element_at(element_at(cellsLit, j + 1),
        (cmsBucket(tok, j) + 1L).cast("int"))
    }: _*)

  /** Shared by the exact and CMS-hot-set forms of the common-bigrams
    * query — one oracle string because the two are result-identical
    * by the superset-hot-set argument. */
  private val sqlCommonBigrams: String =
    """WITH bg AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    list_transform(range(1, len(toks)),
      |      i -> toks[i] || ' ' || toks[i+1]))) AS g
      |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |        FROM documents)),
      |df AS (SELECT g, COUNT(*) AS dfreq FROM bg GROUP BY g)
      |SELECT bg.doc_id,
      |  CAST(SUM(CASE WHEN df.dfreq >= 20 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_common,
      |  CAST(COUNT(*) AS BIGINT) AS n_distinct
      |FROM bg JOIN df USING (g)
      |GROUP BY bg.doc_id ORDER BY doc_id""".stripMargin

  /** Heavy hitters with the `q_approx_distinct` discipline: the exact
    * top-`k` tokens (full-vocab aggregate + salted two-phase global
    * rank — the oracle-checked twin) side by side with their count-min
    * estimates, plus the tolerance gate `sketch_ok` (overcount ≤
    * 3·N/width — CMS's εN bound at ε = 3/width; a broken sketch fails
    * the oracle instead of going unchecked). The sketch is the scale
    * path: its memory is the fixed 4096-cell table, ONE corpus pass,
    * no vocabulary-sized state — the one-pass alternative to the full
    * df aggregate [[Skew]]'s hot-set cutoff derives today (see the
    * Skew Scaladoc). */
  def heavyHitters(d: DataFrame, k: Int = 20): DataFrame = {
    val toks = Tables.spread(d)
      .select(explode(split(col("text"), "\\s+")).as("tok"))
    // exact counts: cached — feeds the grand total AND the top-k rank
    val cnt = toks.groupBy("tok").agg(count(lit(1)).as("n")).cache()
    val tot = cnt.agg(sum("n").cast("long").as("__n"))
    val surv = Sampling.partialTopK(cnt.withColumn("__g", lit(0)), "__g",
      Seq(col("n").desc, col("tok")), k, Sampling.FanOut,
      saltCol = col("tok"))
    val w = Window.partitionBy("__g").orderBy(col("n").desc, col("tok"))
    val topk = surv.withColumn("rnk", row_number().over(w).cast("int"))
      .where(col("rnk") <= k).drop("__g")
    val est = cmsEstimates(topk.select("tok"), cmsCells(toks))
    topk.join(broadcast(est), Seq("tok"))
      .crossJoin(broadcast(tot))
      .select(col("rnk"), col("tok"), col("n"), col("est"),
        (col("est") - col("n")).as("overcount"),
        ((col("est") - col("n")) * CmsWidth <= lit(3L) * col("__n"))
          .as("sketch_ok"))
      .orderBy("rnk")
  }

  val queries: Seq[Q] = Seq(

    // ---- corpus quality scoring (pre-training filter heuristics) ----
    Q("text_quality", Some(
      """SELECT doc_id,
        |  CAST(len(string_split_regex(text, '\s+')) AS INTEGER) AS n_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '\b(the|a|an|of|and|or|is|are|to|in|that|it|as|for|with)\b'))
        |    AS INTEGER) AS n_stopwords,
        |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INTEGER)
        |    AS n_punct,
        |  CAST(len(regexp_extract_all(text,
        |    '\b(the|a|an|of|and|or|is|are|to|in|that|it|as|for|with)\b'))
        |    AS DOUBLE) / len(string_split_regex(text, '\s+'))
        |    AS stopword_ratio,
        |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) /
        |    LENGTH(text) AS punct_ratio,
        |  CAST(LENGTH(text) - (len(string_split_regex(text, '\s+')) - 1)
        |    AS DOUBLE) / len(string_split_regex(text, '\s+')) AS mean_tok_len,
        |  (len(string_split_regex(text, '\s+')) >= 5
        |   AND len(regexp_extract_all(text,
        |     '\b(the|a|an|of|and|or|is|are|to|in|that|it|as|for|with)\b')) > 0
        |   AND CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) /
        |     LENGTH(text) < 0.1) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      qualityScore(docs(s, dir))
    },

    // ---- Gopher-style rule gate (see gopherRules): narrow per-row
    //      projection, no shuffle but the output sort ----
    Q("text_gopher_rules", Some(
      """WITH m AS (SELECT doc_id,
        |    len(string_split_regex(text, '\s+')) AS n_words,
        |    LENGTH(text) - (len(string_split_regex(text, '\s+')) - 1)
        |      AS word_chars,
        |    len(regexp_extract_all(text, '#|\.\.\.')) AS n_sym,
        |    (CASE WHEN regexp_matches(text, '\bthe\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(text, '\ba\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(text, '\bof\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(text, '\band\b') THEN 1 ELSE 0
        |       END
        |     + CASE WHEN regexp_matches(text, '\bto\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(text, '\bin\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(text, '\bis\b') THEN 1 ELSE 0 END
        |     + CASE WHEN regexp_matches(text, '\bthat\b') THEN 1 ELSE 0
        |       END) AS n_stop_distinct
        |  FROM documents)
        |SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
        |  CAST(word_chars * 100 // n_words AS BIGINT) AS wlen_x100,
        |  CAST(n_sym AS INTEGER) AS n_sym,
        |  CAST(n_stop_distinct AS INTEGER) AS n_stop_distinct,
        |  (n_words BETWEEN 20 AND 80) AS g_words,
        |  (word_chars * 100 >= n_words * 300
        |   AND word_chars * 100 <= n_words * 1000) AS g_wlen,
        |  (n_sym * 10 <= n_words) AS g_sym,
        |  (n_stop_distinct >= 2) AS g_stop,
        |  ((n_words BETWEEN 20 AND 80)
        |   AND word_chars * 100 >= n_words * 300
        |   AND word_chars * 100 <= n_words * 1000
        |   AND n_sym * 10 <= n_words AND n_stop_distinct >= 2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      gopherRules(docs(s, dir))
    },

    // ---- end-to-end corpus cleaning: language filter -> quality filter
    //      -> exact dedup (keep min doc_id) -> summary ----
    Q("pipeline_clean_corpus", Some(
      """WITH scored AS (
        |  SELECT doc_id, text,
        |    len(regexp_extract_all(text, '\b(the|a|of|and|is|to)\b')) AS s_en,
        |    len(string_split_regex(text, '\s+')) AS n_tokens,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |kept AS (SELECT * FROM scored WHERE s_en > 0 AND n_tokens >= 5),
        |dedup AS (SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |          FROM kept GROUP BY fp)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_copies) AS BIGINT) AS n_before_dedup,
        |  CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n_removed
        |FROM dedup""".stripMargin)) { (s, dir) =>
      val scored = docs(s, dir).select(
        col("doc_id"),
        matches(col("text"), "\\b(the|a|of|and|is|to)\\b").as("s_en"),
        size(split(col("text"), "\\s+")).as("n_tokens"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fp"))
      val kept = scored.where(col("s_en") > 0 && col("n_tokens") >= 5)
      kept.groupBy("fp")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_copies").cast("long").as("n_before_dedup"),
          (sum("n_copies") - count(lit(1))).cast("long").as("n_removed"))
    },

    // ---- token / type / length statistics ----
    Q("text_stats", Some(
      """SELECT doc_id,
        |  CAST(len(string_split_regex(text, '\s+')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS INTEGER)
        |    AS n_types,
        |  CAST(LENGTH(REPLACE(text, ' ', '')) AS INTEGER) AS n_letters,
        |  CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) /
        |    len(string_split_regex(text, '\s+')) AS avg_tok_len
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val toks = split(col("text"), "\\s+")
      val letters = length(regexp_replace(col("text"), " ", ""))
      docs(s, dir).select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_types"),
        letters.as("n_letters"),
        (letters.cast("double") / size(toks)).as("avg_tok_len"))
        .orderBy("doc_id")
    },

    // ---- BPE-ish regex tokenizer: character-class split counts ----
    Q("text_tokens_bpeish", Some(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS INTEGER)
        |    AS n_alpha,
        |  CAST(len(regexp_extract_all(lower(text), '[0-9]+')) AS INTEGER)
        |    AS n_num,
        |  CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) AS INTEGER)
        |    AS n_other
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      bpeishTokens(docs(s, dir))
    },

    // ---- heuristic language ID (stopword-count argmax) ----
    Q("text_langid", Some {
      val scores = sqlLangPatterns.map { case (l, p) =>
        s"CAST(len(regexp_extract_all(text, '$p')) AS INTEGER) AS s_$l"
      }.mkString(",\n  ")
      s"""SELECT doc_id, s_en, s_de, s_fr, s_es,
         |  CASE
         |    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0
         |      THEN 'en'
         |    WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
         |    WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
         |    WHEN s_es > 0 THEN 'es'
         |    ELSE 'und' END AS lang_pred
         |FROM (SELECT doc_id,
         |  $scores
         |FROM documents) ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      langid(docs(s, dir))
    },

    // ---- classifier evaluation as a first-class query: the langid
    //      heuristic's confusion matrix against the corpus's ground-
    //      truth lang label, with per-true-language row shares in exact
    //      integer ppm — what a pipeline's quality dashboard reads
    //      before trusting a filter. One narrow scoring projection
    //      (same decision expression as text_langid, shared by
    //      construction), one ≤|langs|²-group aggregate; the normalize
    //      window runs on that metadata-sized frame. ----
    Q("text_langid_confusion", Some {
      val scores = sqlLangPatterns.map { case (l, p) =>
        s"CAST(len(regexp_extract_all(text, '$p')) AS INTEGER) AS s_$l"
      }.mkString(",\n  ")
      s"""WITH p AS (SELECT lang,
         |  CASE
         |    WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es AND s_en > 0
         |      THEN 'en'
         |    WHEN s_de >= s_fr AND s_de >= s_es AND s_de > 0 THEN 'de'
         |    WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
         |    WHEN s_es > 0 THEN 'es'
         |    ELSE 'und' END AS lang_pred
         |FROM (SELECT lang,
         |  $scores
         |FROM documents))
         |SELECT lang, lang_pred, COUNT(*) AS n,
         |  CAST(COUNT(*) * 1000000 //
         |    SUM(COUNT(*)) OVER (PARTITION BY lang) AS BIGINT) AS row_ppm
         |FROM p GROUP BY lang, lang_pred
         |ORDER BY lang, lang_pred""".stripMargin
    }) { (s, dir) =>
      docs(s, dir).select(
          col("lang") +: langPatterns.map { case (l, p) =>
            matches(col("text"), p).as(s"s_$l")
          }: _*)
        .select(col("lang"), langPredCol.as("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(count(lit(1)).as("n"))
        .withColumn("row_ppm", expr("CAST(n * 1000000 DIV " +
          "sum(n) over (partition by lang) AS BIGINT)"))
        .orderBy("lang", "lang_pred")
    },

    // ---- rolling-hash fingerprint (native codegen'd expression). The
    //      oracle re-derives the base-31 polynomial over the bytes with
    //      HUGEINT math emulating 64-bit wraparound (valid because the
    //      synthetic corpus is pure ASCII, where ord(char) == the UTF-8
    //      byte — checked: 0 non-ASCII docs at every SF). ----
    Q("text_rolling_hash", Some(
      """SELECT doc_id,
        |  CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |            THEN h - 18446744073709551616::HUGEINT
        |            ELSE h END AS BIGINT) AS rh
        |FROM (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(0::HUGEINT,
        |        [ord(c)::HUGEINT for c in string_split(text, '')]),
        |      (acc, x) -> (acc * 31 + x) % 18446744073709551616::HUGEINT) AS h
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      graft.functions.RollingHash64.register(s)
      docs(s, dir).select(col("doc_id"),
        expr("rolling_hash64(text)").as("rh"))
        .orderBy("doc_id")
    },

    // ---- intra-document repetition (the Gopher-style repetition
    //      filter): duplicate-bigram fraction per doc, all integers plus
    //      one exact division ----
    Q("text_repetition", Some(
      """SELECT doc_id,
        |  CAST(n_bigrams AS INTEGER) AS n_bigrams,
        |  CAST(n_distinct AS INTEGER) AS n_distinct,
        |  CAST(n_bigrams - n_distinct AS INTEGER) AS n_repeated,
        |  CAST(n_distinct AS DOUBLE) / n_bigrams AS uniq_ratio
        |FROM (
        |  SELECT doc_id, len(bg) AS n_bigrams,
        |         len(list_distinct(bg)) AS n_distinct
        |  FROM (
        |    SELECT doc_id,
        |      list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1]) AS bg
        |    FROM (SELECT doc_id,
        |            string_split_regex(text, '\s+') AS toks
        |          FROM documents)))
        |WHERE n_bigrams > 0 ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      // explode + groupBy, NOT size()/size(array_distinct()) over a
      // projected bigram column: projection collapse inlines `toks` into
      // the transform lambda and re-runs the regex split PER SEQUENCE
      // ELEMENT — measured 8x slower. The generator evaluates the bigram
      // expression exactly once per row.
      bigramRows(docs(s, dir), distinctPerDoc = false)
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_bigrams"),
          countDistinct(col("g")).cast("int").as("n_distinct"))
        .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
          (col("n_bigrams") - col("n_distinct")).as("n_repeated"),
          (col("n_distinct").cast("double") / col("n_bigrams"))
            .as("uniq_ratio"))
        .orderBy("doc_id")
    },

    // ---- duplicate-SEGMENT fraction (the Gopher-style duplicate-line
    //      signal, complementing the bigram repetition above: catches
    //      copy-pasted sentences that bigram stats dilute). Segments are
    //      '. '-delimited; all integers plus one exact division. ----
    Q("text_dup_segments", Some(
      """SELECT doc_id,
        |  CAST(n_segs AS INTEGER) AS n_segs,
        |  CAST(n_distinct AS INTEGER) AS n_distinct,
        |  CAST(n_distinct AS DOUBLE) / n_segs AS uniq_ratio
        |FROM (
        |  SELECT doc_id, len(segs) AS n_segs,
        |         len(list_distinct(segs)) AS n_distinct
        |  FROM (SELECT doc_id,
        |          string_split_regex(text, '\. ') AS segs
        |        FROM documents))
        |WHERE n_segs > 0 ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      // same explode + groupBy discipline as text_repetition: the
      // generator evaluates the split exactly once per row
      Tables.spread(docs(s, dir), col("doc_id"))
        .select(col("doc_id"), explode(split(col("text"), "\\. "))
          .as("seg"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_segs"),
          countDistinct(col("seg")).cast("int").as("n_distinct"))
        .select(col("doc_id"), col("n_segs"), col("n_distinct"),
          (col("n_distinct").cast("double") / col("n_segs"))
            .as("uniq_ratio"))
        .orderBy("doc_id")
    },

    // ---- corpus-level boilerplate detection: per-doc count of distinct
    //      bigrams whose document frequency is >= 20 (bigrams shared by
    //      many docs = template/boilerplate text). The docfreq attach
    //      runs through Skew.hotSaltedJoin (round 7): the bigram key is
    //      Zipf-distributed, the docfreq side outgrows broadcast at
    //      web-corpus cardinality, and AQE's skew split cannot fire on
    //      an aggregate-fed join (see Skew's scaladoc) — the bounded
    //      hot set (df >= total div 2^20) spreads exactly the keys that
    //      could dominate a partition. ----
    Q("text_common_bigrams", Some(sqlCommonBigrams)) { (s, dir) =>
      val bg = bigramRows(docs(s, dir), distinctPerDoc = true)
      // cached: referenced by the grand total, the hot set, and the
      // salted join's small side (clear-between-queries policy)
      val dfreq = bg.groupBy("g").agg(count(lit(1)).as("dfreq")).cache()
      val hot = Skew.hotKeysByCount(dfreq, "g", "dfreq")
      Skew.hotSaltedJoin(bg, dfreq, "g", hot, col("doc_id"))
        .groupBy("doc_id")
        .agg(sum(when(col("dfreq") >= 20, 1).otherwise(0)).cast("long")
          .as("n_common"),
          count(lit(1)).as("n_distinct"))
        .orderBy("doc_id")
    },

    // ---- text_common_bigrams with the HOT-SET PATH swapped for the
    //      count-min sketch (the Skew-doc claim made real, result-
    //      identical — SHARES the exact query's oracle): hotness is a
    //      per-row probe of the foldable 32 KB sketch literal via
    //      hotSaltedJoinBy, so the hot-set derivation needs no grand-
    //      total pass and no hot-set broadcast join — the shape a
    //      pipeline uses when it does NOT otherwise hold per-key
    //      counts. CMS one-sidedness ⇒ est ≥ τ is a superset of the
    //      true hot set ⇒ identical join output, at worst a few
    //      unnecessarily-salted keys (SkewSpec pins both halves). ----
    Q("text_common_bigrams_cms", Some(sqlCommonBigrams)) { (s, dir) =>
      val bg = bigramRows(docs(s, dir), distinctPerDoc = true)
      val dfreq = bg.groupBy("g").agg(count(lit(1)).as("dfreq"))
      val (cells, n) = cmsSketchLiteral(bg.select(col("g").as("tok")))
      val cutoff = math.max(n / Skew.HotKeyFanout, Skew.MinHotCount)
      Skew.hotSaltedJoinBy(bg, dfreq, "g",
        t => cmsEstCol(t, cells) >= cutoff, col("doc_id"))
        .groupBy("doc_id")
        .agg(sum(when(col("dfreq") >= 20, 1).otherwise(0)).cast("long")
          .as("n_common"),
          count(lit(1)).as("n_distinct"))
        .orderBy("doc_id")
    },

    // ---- deterministic hash sampling: reproducible 1/16 corpus sample
    //      by first hex digit of the content digest — the pipeline-safe
    //      alternative to TABLESAMPLE (restart-stable, engine-agnostic,
    //      and pushes down as an ordinary filter) ----
    Q("text_hash_sample", Some(
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |  CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_len,
        |  CAST(MIN(doc_id) AS BIGINT) AS first_id
        |FROM documents WHERE substr(md5(text), 1, 1) = '0'""".stripMargin)) {
      (s, dir) =>
        docs(s, dir).where(substring(md5(col("text")), 1, 1) === "0")
          .agg(count(lit(1)).as("n_sampled"),
            sum(length(col("text"))).cast("long").as("sum_len"),
            min("doc_id").as("first_id"))
    },

    // ---- bounded edit-distance pairs (exact quadratic baseline, like
    //      dedup_ngram_jaccard: doc_id < 30 both sides, 120-char
    //      prefixes). Validates near-dup candidates at the character
    //      level — the standard post-LSH verification step. ----
    Q("text_levenshtein", Some(
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(substr(a.text, 1, 120), substr(b.text, 1, 120))
        |    AS INTEGER) AS dist
        |FROM documents a JOIN documents b ON a.doc_id < b.doc_id
        |WHERE a.doc_id < 30 AND b.doc_id < 30
        |  AND levenshtein(substr(a.text, 1, 120), substr(b.text, 1, 120)) <= 60
        |ORDER BY doc_a, doc_b""".stripMargin)) { (s, dir) =>
      val sub = docs(s, dir).where(col("doc_id") < 30)
        .select(col("doc_id"), substring(col("text"), 1, 120).as("t"))
      val a = sub.select(col("doc_id").as("doc_a"), col("t").as("ta"))
      val b = sub.select(col("doc_id").as("doc_b"), col("t").as("tb"))
      a.join(b, col("doc_a") < col("doc_b"))
        .withColumn("dist", levenshtein(col("ta"), col("tb")))
        .where(col("dist") <= 60)
        .select("doc_a", "doc_b", "dist")
        .orderBy("doc_a", "doc_b")
    },

    // ---- PII-style scrubbing: URL/email pattern counts + digest of the
    //      scrubbed text (the standard pre-training redaction pass; the
    //      synthetic corpus is pattern-free, so counts are zero and the
    //      digest equals the raw one — the oracle still pins the full
    //      regex pipeline cell-exactly) ----
    Q("text_scrub", Some(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, 'https?://\S+')) AS INTEGER)
        |    AS n_urls,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+')) AS INTEGER) AS n_emails,
        |  md5(regexp_replace(
        |    regexp_replace(text, 'https?://\S+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'))
        |    AS scrubbed_fp
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val urlRe = "https?://\\S+"
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
      docs(s, dir).select(
        col("doc_id"),
        matches(col("text"), urlRe).as("n_urls"),
        matches(col("text"), emailRe).as("n_emails"),
        md5(regexp_replace(regexp_replace(col("text"), urlRe, "<URL>"),
          emailRe, "<EMAIL>")).as("scrubbed_fp"))
        .orderBy("doc_id")
    },

    // ---- the FULL scrub stage as a standalone query (redaction +
    //      line rules — fullPrepare's stage 1, exposed so the oracle
    //      pins the per-line algebra on its own): line counts before/
    //      after the rule gate + a digest of the scrubbed text. The
    //      synthetic corpus is single-line and pattern-free, so kept
    //      = 1 and the digest equals md5(text) — the hash still pins
    //      the whole redact → split → filter → rejoin pipeline
    //      cell-exactly (the text_scrub precedent); PrepareSpec
    //      exercises real line drops and redactions on fixtures. ----
    Q("text_scrub_lines", Some(
      s"""WITH s AS (SELECT doc_id,
         |    len(string_split(text, chr(10))) AS n_lines_in,
         |    coalesce(array_to_string(list_filter(string_split(
         |      ${sqlScrubRedact("text")},
         |      chr(10)),
         |      l -> len(string_split_regex(l, '\\s+')) >= 3
         |        AND 5 * len(list_filter(string_split_regex(l, '\\s+'),
         |            w -> regexp_matches(w, '[A-Za-z]')))
         |          >= 4 * len(string_split_regex(l, '\\s+'))),
         |      chr(10)), '') AS t
         |  FROM documents)
         |SELECT doc_id, CAST(n_lines_in AS INTEGER) AS n_lines_in,
         |  CAST(CASE WHEN length(t) = 0 THEN 0
         |    ELSE len(string_split(t, chr(10))) END AS INTEGER)
         |    AS n_lines_kept,
         |  md5(t) AS scrubbed_fp
         |FROM s ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val t = scrubText(col("text"))
      docs(s, dir).select(col("doc_id"),
          size(split(col("text"), "\n")).cast("int").as("n_lines_in"),
          t.as("t"))
        .select(col("doc_id"), col("n_lines_in"),
          when(length(col("t")) === 0, 0)
            .otherwise(size(split(col("t"), "\n"))).cast("int")
            .as("n_lines_kept"),
          md5(col("t")).as("scrubbed_fp"))
        .orderBy("doc_id")
    },

    // ---- context-window chunking: split each doc into 50-token chunks
    //      (training-sample packing). One generator row per chunk,
    //      partition-parallel; integers + first-token string keep the
    //      oracle exact ----
    Q("text_chunks", Some(
      """SELECT doc_id, CAST(c AS INTEGER) AS chunk_no,
        |  CAST(LEAST(50, n - c*50) AS INTEGER) AS n_toks,
        |  toks[c*50 + 1] AS first_tok
        |FROM (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    unnest(range(0, CAST(CEIL(len(toks)/50.0) AS BIGINT))) AS c
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |        FROM documents))
        |ORDER BY doc_id, chunk_no""".stripMargin)) { (s, dir) =>
      Tables.spread(docs(s, dir), col("doc_id"))
        .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).as("n"),
          explode(expr("sequence(0, cast(ceil(size(toks)/50.0) as int) - 1)"))
            .as("chunk_no"))
        .select(col("doc_id"), col("chunk_no"),
          least(lit(50), col("n") - col("chunk_no") * 50).as("n_toks"),
          expr("toks[chunk_no*50]").as("first_tok"))
        .orderBy("doc_id", "chunk_no")
    },

    // ---- STRIDED overlapping chunks (window 50, stride 32): the
    //      context-window shape most training prep actually uses, so
    //      boundary tokens appear in two windows and no span is ever
    //      split across samples without overlap. Windows start at
    //      multiples of the stride while any token remains; the last
    //      window may be short. Same narrow generator shape as
    //      text_chunks — one row out per window, partition-parallel. ----
    Q("text_chunks_overlap", Some(
      """SELECT doc_id, CAST(c AS INTEGER) AS chunk_no,
        |  CAST(LEAST(50, n - c*32) AS INTEGER) AS n_toks,
        |  toks[c*32 + 1] AS first_tok
        |FROM (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    unnest(range(0, CAST(CEIL(GREATEST(len(toks) - 50 + 32, 1)
        |      / 32.0) AS BIGINT))) AS c
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |        FROM documents))
        |ORDER BY doc_id, chunk_no""".stripMargin)) { (s, dir) =>
      Tables.spread(docs(s, dir), col("doc_id"))
        .select(col("doc_id"), split(col("text"), "\\s+").as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).as("n"),
          explode(expr("sequence(0, cast(ceil(greatest(size(toks) - 50 " +
            "+ 32, 1) / 32.0) as int) - 1)")).as("chunk_no"))
        .select(col("doc_id"), col("chunk_no"),
          least(lit(50), col("n") - col("chunk_no") * 32).as("n_toks"),
          expr("toks[chunk_no*32]").as("first_tok"))
        .orderBy("doc_id", "chunk_no")
    },

    // ---- token-budget shard packing: assign docs to bins of ~10k
    //      tokens within each shard group (running-sum window per
    //      group). Grouped — NOT one global ordered window, which would
    //      serialize the whole corpus through a single partition at
    //      scale; the group key is the unit of parallelism ----
    Q("pipeline_pack_bins", Some(
      """SELECT shard_group, bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
        |FROM (
        |  SELECT doc_id % 8 AS shard_group, n_tokens,
        |    CAST((SUM(n_tokens) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
        |       ROWS UNBOUNDED PRECEDING) - n_tokens) // 10000 AS BIGINT) AS bin
        |  FROM (SELECT doc_id,
        |          len(string_split_regex(text, '\s+')) AS n_tokens
        |        FROM documents))
        |GROUP BY shard_group, bin ORDER BY shard_group, bin""".stripMargin)) {
      (s, dir) =>
        val w = Window.partitionBy(col("shard_group")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        docs(s, dir)
          .select(col("doc_id"), (col("doc_id") % 8).as("shard_group"),
            size(split(col("text"), "\\s+")).as("n_tokens"))
          .withColumn("bin",
            floor((sum("n_tokens").over(w) - col("n_tokens")) / 10000))
          .groupBy("shard_group", "bin")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_tokens").cast("long").as("bin_tokens"))
          .orderBy("shard_group", "bin")
    },

    // ---- train/eval decontamination: flag training docs sharing >= 3
    //      RARE word 5-grams with any eval-split doc (docfreq <= 20
    //      bounds per-gram join fan-out — the standard trick that keeps
    //      the gram equijoin linear at corpus scale; common phrasing
    //      never generates candidates). Every stage is a keyed shuffle;
    //      the docfreq join side is left to Catalyst/AQE like
    //      text_common_bigrams ----
    Q("pipeline_decontaminate", Some(sqlDecontaminate)) { (s, dir) =>
      // NOT a gram self-join (whose pair fan-out shuffles gram strings
      // twice and was measured 2.9x slower): docfreq-filter first via
      // a safe partial-agg count (a universal boilerplate gram never
      // materializes a giant buffer, unlike collect_set-before-filter),
      // accepting that the n-gram explode evaluates twice (docfreq
      // branch + join probe side — same deliberate trade-off as
      // text_common_bigrams),
      // then gather each surviving gram's train/eval doc sets — bounded
      // <= 20 ids by the rarity filter — and explode the cross pairs.
      // The rarity join runs through Skew.hotSaltedJoin (round 7): a
      // boilerplate 5-gram's occurrences would otherwise serialize
      // through one shuffle partition on the probe side even though
      // they match nothing (hot grams are by definition not rare), and
      // AQE's skew split cannot fire on this shape (see Skew). Hot keys
      // salt; the surviving rare-gram rows are <= 20 per key, so every
      // downstream aggregate is balanced by construction.
      decontaminatePairs(docs(s, dir)).orderBy("train_doc", "eval_doc")
    },

    // ---- BLOOM-PRUNED decontamination: result-identical to
    //      pipeline_decontaminate (it shares that query's oracle
    //      verbatim — the shared-SQL construction makes divergence
    //      impossible), but the train-side gram stream is pruned by an
    //      eval-slice bloom filter BEFORE the rarity attach shuffles.
    //      TextAnalysisSpec pins result equality AND the actual
    //      shuffle row/byte drop. ----
    Q("pipeline_decontaminate_bloom", Some(sqlDecontaminate)) { (s, dir) =>
      decontaminateBloomPairs(docs(s, dir), dir)
        .orderBy("train_doc", "eval_doc")
    },

    // ---- STATIC-PLANE decontamination flag (r15): the continuous
    //      prepare's gate semantics ([[deconPlane]]/[[deconFlagged]] —
    //      rarity WITHIN the eval slice, since a stream cannot know
    //      corpus-wide docfreq; flagged = train docs sharing >= 3
    //      distinct plane grams with one eval doc) replayed batch-side
    //      over the registered % 10 split, so the streaming stage's
    //      exact algebra sits under the cross-engine hash contract and
    //      not just the StreamOpsSpec parity pin. The bloom prune is
    //      lossless (no false negatives), so the oracle needs no bloom
    //      — the decontaminate_bloom precedent. ----
    Q("pipeline_decontaminate_static", Some(sqlDeconStatic)) { (s, dir) =>
      val d = docs(s, dir)
      val plane = deconPlane(
        d.where(col("doc_id") % 10 === 0).select("doc_id", "text"))
      deconFlagged(
        d.where(col("doc_id") % 10 =!= 0).select("doc_id", "text"),
        plane)
        .orderBy("doc_id")
    },

    // ---- MULTI-SUITE static decontamination (r16): the production
    //      shape — many benchmark suites at once with per-suite
    //      ATTRIBUTION (which benchmark leaked into which doc).
    //      Rarity is within (suite), the fold keys (doc, suite,
    //      eval_doc), suites here = the % 20 split of the registered
    //      % 10 eval slice. pipeline_decontaminate_static stays
    //      registered unchanged — restricted to one suite the two
    //      flags agree by construction, and both sit under the
    //      cross-engine hash contract. ----
    Q("pipeline_decontaminate_suites", Some(sqlDeconSuites)) { (s, dir) =>
      val d = docs(s, dir)
      val plane = deconPlaneSuites(
        d.where(col("doc_id") % 10 === 0)
          .select(col("doc_id"),
            when(col("doc_id") % 20 === 0, "suite_a")
              .otherwise("suite_b").as("eval_suite"),
            col("text")))
      deconFlaggedSuites(
        d.where(col("doc_id") % 10 =!= 0).select("doc_id", "text"),
        plane)
        .orderBy("doc_id", "eval_suite")
    },

    // ---- document fingerprint: digest of normalized text ----
    Q("text_fingerprint", Some(
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |  CAST(LENGTH(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
        |    AS INTEGER) AS norm_len
        |FROM documents ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
      docs(s, dir).select(
        col("doc_id"),
        md5(norm).as("fp"),
        length(norm).as("norm_len"))
        .orderBy("doc_id")
    },

    // ---- character-level Shannon entropy (quality signal: gibberish /
    //      binary-junk docs sit far from natural-language ~4 bits/char).
    //      Explode-to-chars + two keyed aggregates, both reusing the
    //      doc_id spread partitioning — one exchange total. Spark splits
    //      on the empty pattern (trailing "" filtered); the oracle
    //      side-steps split-on-empty semantics entirely via a lateral
    //      generate_series + substring. Entropy sums ~30 double terms in
    //      engine order -> display-rounded; counts are exact. ----
    Q("text_char_entropy", Some(
      """WITH c AS (SELECT doc_id, substring(text, CAST(i AS INTEGER), 1) AS ch
        |           FROM (SELECT doc_id, text,
        |                   unnest(range(1, length(text) + 1)) AS i
        |                 FROM documents)),
        |f AS (SELECT doc_id, ch, COUNT(*) AS cnt FROM c GROUP BY doc_id, ch),
        |n AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_chars,
        |        COUNT(*) AS n_distinct FROM f GROUP BY doc_id)
        |SELECT f.doc_id, ANY_VALUE(n_chars) AS n_chars,
        |  ANY_VALUE(n_distinct) AS n_distinct,
        |  ROUND(-SUM((cnt / CAST(n_chars AS DOUBLE))
        |    * ln(cnt / CAST(n_chars AS DOUBLE))) / ln(2), 4) AS entropy_r
        |FROM f JOIN n ON f.doc_id = n.doc_id
        |GROUP BY f.doc_id ORDER BY f.doc_id""".stripMargin)) { (s, dir) =>
      val freq = Tables.spread(docs(s, dir), col("doc_id"))
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .where(col("ch") =!= "")
        .groupBy("doc_id", "ch").agg(count(lit(1)).as("cnt"))
      val nw = Window.partitionBy("doc_id")
      freq
        .withColumn("n_chars", sum("cnt").over(nw).cast("long"))
        .withColumn("n_distinct", count(lit(1)).over(nw))
        .groupBy("doc_id")
        .agg(first("n_chars").as("n_chars"),
          first("n_distinct").as("n_distinct"),
          round(-sum((col("cnt") / col("n_chars").cast("double"))
            * log(col("cnt") / col("n_chars").cast("double"))) / log(lit(2d)),
            4).as("entropy_r"))
        .orderBy("doc_id")
    },

    // ---- corpus-derived stopword strip (CCNet-style frequency prune,
    //      MATERIALIZED): drop every token present in >= 80% of
    //      documents and reassemble each document's text in original
    //      token order. The vocabulary filter is computed FROM the
    //      corpus (no fixed list), the threshold is integer math
    //      (df*10 >= n_docs*8 — no fp ratio to drift), and the rebuild
    //      is an order-pinned aggregate: collect (pos, tok) survivors,
    //      sort by position, join with spaces.
    //      Scale shape: per-occurrence rows carry (doc_id, pos, tok)
    //      only and NEVER shuffle on the token key — the drop test is a
    //      broadcast-hash probe against the df-threshold set, which is
    //      bounded by mean document length at any corpus size (see the
    //      operator scaladoc; the round-6 "left to AQE" docfreq join is
    //      gone — AQE's skew split can't fire on that shape). The
    //      grand-total row is a 1-row broadcast (allow-listed); the
    //      rebuild aggregate reuses the doc_id spread. Per-doc state is
    //      the doc's own token list — the same per-doc working set
    //      every reassembly op carries. ----
    Q("pipeline_strip_stopwords", Some(
      """WITH s AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS tok,
        |         unnest(range(1, len(string_split_regex(text, '\s+'))+1))
        |           AS pos
        |  FROM documents),
        |f AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM s GROUP BY tok),
        |t AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN df*10 < n_docs*8 THEN 1 ELSE 0 END)
        |    AS INTEGER) AS n_kept,
        |  CAST(SUM(CASE WHEN df*10 >= n_docs*8 THEN 1 ELSE 0 END)
        |    AS INTEGER) AS n_dropped,
        |  COALESCE(string_agg(CASE WHEN df*10 < n_docs*8 THEN tok END,
        |    ' ' ORDER BY pos), '') AS clean_text
        |FROM s JOIN f USING (tok), t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      stripCorpusStopwords(docs(s, dir), num = 8, den = 10)
        .orderBy("doc_id")
    },

    // ---- bigram LM score (perplexity-filter signal): each document's
    //      mean log2 P(w2|w1) under the corpus's own bigram counts —
    //      the KenLM-style quality filter's statistical core, with the
    //      LM trained on (and scored against) the corpus itself.
    //      P(w2|w1) = c(w1 w2) / c(w1·), both counts exact integers;
    //      only the final mean-of-logs is fp and display-rounded (the
    //      repo's entropy_r convention). Scale shape: bigram explode
    //      off the doc_id spread, skew-safe partial-agg count
    //      aggregates, both count attaches through Skew.hotSaltedJoin
    //      (bounded hot set — see the operator scaladoc), per-doc
    //      aggregate reusing the spread. ----
    Q("text_bigram_logprob", Some(
      """WITH b AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS g
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
        |        FROM documents)
        |  WHERE len(toks) >= 2),
        |c2 AS (SELECT g, COUNT(*) AS n2 FROM b GROUP BY g),
        |c1 AS (SELECT string_split(g, ' ')[1] AS w1,
        |         CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY w1)
        |SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_bigrams,
        |  ROUND(SUM(ln(n2 / CAST(n1 AS DOUBLE)) / ln(2)) / COUNT(*), 4)
        |    AS avg_logp_r
        |FROM b JOIN c2 USING (g)
        |  JOIN c1 ON string_split(g, ' ')[1] = c1.w1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      bigramLogprob(docs(s, dir)).orderBy("doc_id")
    },

    // ---- per-language top-k corpus tokens (the vocabulary report a
    //      tokenizer-training pass starts from). Two-phase top-K over
    //      the (lang, tok) counts: the aggregated count frame is
    //      vocab×langs-sized — far smaller than the corpus but still
    //      too big for a per-lang single-task sort at BPE-vocab scale —
    //      so the same salted partial-rank discipline as
    //      `pipeline_stratified_sample` applies, salting on the token.
    //      Result provably equals the naive single-window form. ----
    // ---- unicode canonicalization: NFC (via the native codegen'd
    //      nfc_normalize expression, DuckDB's function of the same
    //      name on the mirror side) + punctuation/symbol folding +
    //      whitespace collapse — the documented pre-dedup front. ----
    Q("text_canonicalize", Some(
      """SELECT doc_id, canon, md5(canon) AS canon_md5,
        |  CAST(LENGTH(canon) AS INTEGER) AS n_chars
        |FROM (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |      '[\p{P}\p{S}]+', ' ', 'g'), '\s+', ' ', 'g')) AS canon
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), canonicalCol().as("canon"))
        .select(col("doc_id"), col("canon"),
          md5(col("canon")).as("canon_md5"),
          length(col("canon")).as("n_chars"))
        .orderBy("doc_id")
    },

    // ---- heavy hitters: exact top-20 twin + count-min estimates +
    //      tolerance gate, every cell (including the sketch table the
    //      estimates read) replayed bit-for-bit by the mirror. ----
    Q("q_heavy_hitters", Some(
      s"""WITH t AS (SELECT unnest(string_split_regex(text, '\\s+'))
         |      AS tok FROM documents),
         |cnt AS MATERIALIZED (SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM t GROUP BY tok),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cnt),
         |topk AS MATERIALIZED (SELECT tok, n, rnk FROM (
         |    SELECT tok, n, CAST(ROW_NUMBER() OVER (
         |      ORDER BY n DESC, tok) AS INTEGER) AS rnk FROM cnt)
         |  WHERE rnk <= 20),
         |cells AS MATERIALIZED (SELECT j,
         |    CAST('0x' || substr(md5(j || ':' || tok), 1, 7) AS BIGINT)
         |      % ${CmsWidth} AS b,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM t, (SELECT unnest(range(0, ${CmsRows})) AS j)
         |  GROUP BY 1, 2),
         |est AS (SELECT tok, CAST(MIN(cnt) AS BIGINT) AS est FROM (
         |    SELECT tp.tok, c.cnt FROM topk tp
         |    CROSS JOIN (SELECT unnest(range(0, ${CmsRows})) AS j) jj
         |    JOIN cells c ON c.j = jj.j
         |      AND c.b = CAST('0x' || substr(md5(jj.j || ':' || tp.tok),
         |        1, 7) AS BIGINT) % ${CmsWidth})
         |  GROUP BY tok)
         |SELECT tp.rnk, tp.tok, tp.n, e.est,
         |  CAST(e.est - tp.n AS BIGINT) AS overcount,
         |  (e.est - tp.n) * ${CmsWidth} <= 3 * tot.nn AS sketch_ok
         |FROM topk tp JOIN est e USING (tok), tot
         |ORDER BY tp.rnk""".stripMargin)) { (s, dir) =>
      heavyHitters(docs(s, dir))
    },

    Q("text_top_tokens_by_lang", Some(
      """WITH t AS (SELECT lang, unnest(string_split_regex(text, '\s+'))
        |             AS tok FROM documents),
        |c AS (SELECT lang, tok, COUNT(*) AS n FROM t GROUP BY lang, tok)
        |SELECT lang, tok, CAST(n AS BIGINT) AS n, CAST(rnk AS INTEGER) AS rnk
        |FROM (SELECT lang, tok, n,
        |        ROW_NUMBER() OVER (PARTITION BY lang
        |          ORDER BY n DESC, tok) AS rnk
        |      FROM c)
        |WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin)) { (s, dir) =>
      // keyless spread: the explode + map-side partial aggregation is
      // the heavy stage, and a small single-file scan would otherwise
      // run it on one core (downstream re-keys on (lang, tok) anyway)
      val counts = Tables.spread(docs(s, dir))
        .select(col("lang"), explode(split(col("text"), "\\s+")).as("tok"))
        .groupBy("lang", "tok").agg(count(lit(1)).as("n"))
      val survivors = Sampling.partialTopK(counts, "lang",
        Seq(col("n").desc, col("tok")), 10, Sampling.FanOut,
        saltCol = col("tok"))
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("tok"))
      survivors.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 10)
        .select(col("lang"), col("tok"), col("n"), col("rnk"))
        .orderBy("lang", "rnk")
    },

    // ---- per-doc keyword extraction (tf-idf flavored, integer-exact
    //      rank: tf desc, df asc, tok — after the df ≤ 0.9·n_docs
    //      stopword cap; the float tf·idf is a display-rounded
    //      diagnostic, never the sort key). ----
    Q("text_doc_keywords", Some(
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(text, '\s+'))
        |             AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM t GROUP BY doc_id, tok),
        |d AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
        |      FROM tf GROUP BY tok),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |r AS (SELECT doc_id, tok, tf, df, n_docs,
        |        ROW_NUMBER() OVER (PARTITION BY doc_id
        |          ORDER BY tf DESC, df ASC, tok ASC) AS rk
        |      FROM tf JOIN d USING (tok), n
        |      WHERE df * 10 <= n_docs * 9)
        |SELECT doc_id, CAST(rk AS INTEGER) AS rk, tok, tf, df,
        |  ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df) / ln(2), 4)
        |    AS tfidf_r
        |FROM r WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin)) {
      (s, dir) => docKeywords(docs(s, dir)).orderBy("doc_id", "rk")
    },

    // ---- rare-shingle inverted index (df ≤ 5 word-3-grams → sorted
    //      posting lists) — the decontamination lookup structure; the
    //      Zipf head is dropped before the posting shuffle (it can
    //      never be rare), so no task ever aggregates a hot gram. ----
    Q("text_rare_ngram_index", Some(
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS a
        |           FROM documents),
        |p AS (SELECT DISTINCT doc_id,
        |        a[i] || ' ' || a[i+1] || ' ' || a[i+2] AS g
        |      FROM (SELECT doc_id, a, unnest(range(1, len(a) - 1)) AS i
        |            FROM t)),
        |d AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS df FROM p GROUP BY g)
        |SELECT p.g, d.df,
        |  string_agg(CAST(p.doc_id AS VARCHAR), ' ' ORDER BY p.doc_id)
        |    AS postings
        |FROM p JOIN d USING (g) WHERE d.df <= 5
        |GROUP BY p.g, d.df ORDER BY p.g""".stripMargin)) { (s, dir) =>
      rareNgramIndex(docs(s, dir)).orderBy("g")
    },

    // ---- hashing-trick term-frequency features (HashingTF): tokens
    //      hashed into a fixed 1024-bucket space, one sparse (doc_id,
    //      bucket, tf) entry per occupied cell. The hash is the repo's
    //      md5-60-bit scheme (Dedup.md5Hash60's definition) so DuckDB
    //      recomputes it exactly. Fixed-width features decouple model
    //      input size from vocabulary growth — the reason this is the
    //      standard featurizer at corpus scale: no vocab build, no
    //      dictionary broadcast, one composite-keyed aggregate whose
    //      (doc_id, bucket) keys cannot concentrate on a hot reducer
    //      (the doc_id component spreads even an all-"the" corpus). ----
    Q("pipeline_feature_hash", Some(
      """WITH t AS (SELECT doc_id, unnest(string_split_regex(text, '\s+'))
        |             AS tok FROM documents)
        |SELECT doc_id,
        |  CAST(CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 1024
        |    AS BIGINT) AS bucket,
        |  CAST(COUNT(*) AS BIGINT) AS tf
        |FROM t GROUP BY doc_id, bucket
        |ORDER BY doc_id, bucket""".stripMargin)) { (s, dir) =>
      Tables.spread(docs(s, dir), col("doc_id"))
        .select(col("doc_id"),
          explode(split(col("text"), "\\s+")).as("tok"))
        .select(col("doc_id"),
          (conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
            % 1024).as("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(count(lit(1)).as("tf"))
        .orderBy("doc_id", "bucket")
    },

    // ---- DSIR-style data selection (Xie et al. 2023, "Data Selection
    //      for Language Models via Importance Resampling"): hashed-
    //      unigram importance weights. Target distribution = the lang
    //      = 'en' slice; tokens hash into 256 buckets (the repo's
    //      md5-60-bit scheme — DuckDB recomputes it exactly); bucket
    //      weight = add-one-smoothed frequency ratio in 2^20 fixed
    //      point (integer floor division — no logs, no float
    //      accumulation); a document's importance is the exact integer
    //      sum of its tokens' bucket weights. Two corpus passes by
    //      design — the global bucket histogram must exist before any
    //      document can be scored (caching the exploded token stream
    //      would pin corpus-scale state for a 256-row result); both
    //      passes are skew-immune: the histogram combines map-side into
    //      ≤256 partials, the weight table broadcast-probes, and the
    //      per-doc sum reuses the doc_id spread. ----
    Q("pipeline_dsir_weights", Some(
      """WITH t AS (SELECT doc_id, lang,
        |    CAST(CAST('0x' || substr(md5(unnest(
        |      string_split_regex(text, '\s+'))), 1, 15) AS BIGINT) % 256
        |      AS BIGINT) AS b
        |  FROM documents),
        |c AS (SELECT b, COUNT(*) AS nr,
        |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt
        |  FROM t GROUP BY b),
        |w AS (SELECT b, (nt + 1) * 1048576 // (nr + 1) AS w FROM c)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(w) AS BIGINT) AS imp_weight
        |FROM t JOIN w USING (b)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      def toks = Tables.spread(docs(s, dir), col("doc_id"))
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), "\\s+")).as("tok"))
        .select(col("doc_id"), col("lang"),
          (conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long")
            % 256).as("b"))
      val weights = toks.groupBy("b")
        .agg(count(lit(1)).as("nr"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt"))
        .select(col("b"),
          expr("(nt + 1) * 1048576 div (nr + 1)").as("w"))
      toks.join(broadcast(weights), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("w").as("imp_weight"))
        .orderBy("doc_id")
    },

    // ---- vocabulary coverage curve (the tokenizer-vocab sizing
    //      evidence: what fraction of corpus token OCCURRENCES the
    //      top-k vocabulary covers, at k = 10/100/1000 — the Zipf
    //      head's share, read before choosing a vocab budget). Scale
    //      shape: token counts are one map-side-combined aggregate;
    //      the global top-1000 rides the salted two-phase partial
    //      top-K under a single stratum (no task ever sorts the whole
    //      vocab); ranking and the cutoff expansion run on <= 1000
    //      survivor rows; the occurrence total broadcasts. Exact
    //      integer ppm. ----
    Q("text_vocab_coverage", Some(
      """WITH t AS (SELECT unnest(string_split_regex(text, '\s+')) AS tok
        |      FROM documents),
        |c AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok),
        |r AS (SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok)
        |        AS rk FROM c),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
        |k AS (SELECT unnest([10, 100, 1000]) AS cutoff)
        |SELECT CAST(k.cutoff AS INTEGER) AS cutoff,
        |  CAST(SUM(CASE WHEN r.rk <= k.cutoff THEN r.n ELSE 0 END)
        |    AS BIGINT) AS covered,
        |  tot.total,
        |  CAST(SUM(CASE WHEN r.rk <= k.cutoff THEN r.n ELSE 0 END)
        |    * 1000000 // tot.total AS BIGINT) AS coverage_ppm
        |FROM k, r, tot GROUP BY k.cutoff, tot.total
        |ORDER BY cutoff""".stripMargin)) { (s, dir) =>
      // counts referenced by the top-K and the total — cache under the
      // clear-between-queries policy
      val counts = Tables.spread(docs(s, dir), col("doc_id"))
        .select(explode(split(col("text"), "\\s+")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .cache()
      val tot = counts.agg(sum("n").cast("long").as("total"))
      val w = Window.partitionBy("g").orderBy(col("n").desc, col("tok"))
      val ranked = Sampling.partialTopK(
          counts.withColumn("g", lit(0)), "g",
          Seq(col("n").desc, col("tok")), 1000, Sampling.FanOut,
          saltCol = col("tok"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 1000)
      val cutoffs = typedLit(Seq(10, 100, 1000))
      ranked.select(col("n"), col("rk"),
          explode(cutoffs).as("cutoff"))
        .groupBy("cutoff")
        .agg(sum(when(col("rk") <= col("cutoff"), col("n"))
          .otherwise(0L)).cast("long").as("covered"))
        .crossJoin(broadcast(tot))
        .select(col("cutoff"), col("covered"), col("total"),
          expr("covered * 1000000 DIV total").as("coverage_ppm"))
        .orderBy("cutoff")
    },

    // ---- duplicated-span coverage (the RefinedWeb/SlimPajama dedup
    //      diagnostic, and the target metric of exact-substring dedup à
    //      la Lee et al. 2022 at window granularity): fraction of each
    //      doc's tokens covered by an 8-token sliding window (stride 1)
    //      whose text occurs MORE THAN ONCE corpus-wide — cross-doc
    //      boilerplate and intra-doc repetition both count. Window
    //      occurrence counts come from one md5-keyed aggregate; the
    //      count attach rides hotSaltedJoin (a viral window's occurrence
    //      list is unbounded against its 1-row count — the aggregate-fed
    //      join AQE can't split); coverage = DISTINCT exploded positions
    //      (the interval-union of overlapping dup windows, 8 rows per
    //      dup window, never a per-doc sweep). Exact integer ppm. ----
    Q("text_dup_spans", Some(
      """WITH toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS ts
        |      FROM documents),
        |w AS (SELECT doc_id, ts, unnest(generate_series(0, len(ts) - 8))
        |        AS p
        |      FROM toks WHERE len(ts) >= 8),
        |ww AS (SELECT doc_id, p,
        |        md5(array_to_string(list_slice(ts, p + 1, p + 8), ' '))
        |          AS h
        |      FROM w),
        |c AS (SELECT h, COUNT(*) AS n FROM ww GROUP BY h),
        |dup AS (SELECT doc_id, p FROM ww JOIN c USING (h) WHERE c.n > 1),
        |cov AS (SELECT DISTINCT doc_id,
        |        unnest(generate_series(p, p + 7)) AS pos FROM dup),
        |nd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
        |      FROM cov GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
        |  COALESCE(nd.n_dup, 0) AS n_dup_tokens,
        |  CAST(COALESCE(nd.n_dup, 0) * 1000000 // len(t.ts) AS BIGINT)
        |    AS dup_ppm
        |FROM toks t LEFT JOIN nd ON t.doc_id = nd.doc_id
        |ORDER BY t.doc_id""".stripMargin)) { (s, dir) =>
      val toks = Tables.spread(docs(s, dir), col("doc_id"))
        .select(col("doc_id"), split(col("text"), "\\s+").as("ts"))
      val ww = toks.where(size(col("ts")) >= 8)
        .select(col("ts"),
          col("doc_id"), explode(sequence(lit(0), size(col("ts")) - 8))
            .as("p"))
        .select(col("doc_id"), col("p"),
          md5(array_join(expr("slice(ts, p + 1, 8)"), " ")).as("h"))
      // occurrence counts: one map-side-combinable aggregate; cached —
      // referenced by the grand total, the hot set, and the join's
      // small side (clear-between-queries policy)
      val cnt = ww.groupBy("h").agg(count(lit(1)).as("n")).cache()
      val hot = Skew.hotKeysByCount(cnt, "h", "n")
      val nd = Skew.hotSaltedJoin(ww, cnt, "h", hot, col("doc_id"))
        .where(col("n") > 1)
        .select(col("doc_id"),
          explode(sequence(col("p"), col("p") + 7)).as("pos"))
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
      toks.select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"))
        .join(nd, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup_tokens"),
          expr("coalesce(n_dup, 0L) * 1000000 DIV n_tokens").as("dup_ppm"))
        .orderBy("doc_id")
    })
}
