package graft.operators

import graft.{Metrics, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed END-TO-END corpus-preparation pipeline — every cleaning
  * stage the engine implements, CHAINED in production order over one
  * corpus, each stage consuming the previous stage's survivors:
  *
  *   1. PII scrub + line rules — URL/email redaction and the Gopher/
  *                            C4 per-line boilerplate drop on the RAW
  *                            text ([[TextAnalysis.scrubbed]], r13):
  *                            runs FIRST because canonicalization
  *                            erases the punctuation PII patterns and
  *                            the newline structure line rules need;
  *                            docs losing every line leave the corpus
  *   2. canonicalization    — NFC normalize + punctuation/symbol fold
  *                            + whitespace collapse
  *                            ([[TextAnalysis.canonicalized]]): the
  *                            front real C4/CCNet pipelines run FIRST,
  *                            so every downstream shingle/window/
  *                            digest operates on the canonical plane —
  *                            two non-NFC-equal encodings of one
  *                            near-dup collapse HERE or never
  *                            (PrepareSpec pins exactly that)
  *   3. quality gate        — per-language top half by n_chars
  *                            ([[Sampling.topHalfByScore]])
  *   4. ExactSubstr removal — duplicated ≥50-token spans deleted,
  *                            first occurrence wins, WITHIN the gated
  *                            corpus; empty docs drop
  *                            ([[Dedup.exactSubstrCleaned]])
  *   5. near-dup drop       — prefix-filtered EXACT trigram-shingle
  *                            Jaccard ≥ 0.9 over the CLEANED text,
  *                            keep-min ([[Dedup.prefixJaccardPairs]];
  *                            trigram: the position-richer plane
  *                            thins candidates 50× at the same
  *                            threshold — dedup_jaccard_prefix3)
  *   6. decontamination     — survivors sharing ≥ 3 rare 5-grams with
  *                            an eval-split doc are dropped, and the
  *                            eval split itself leaves the train
  *                            corpus ([[TextAnalysis.decontaminatePairs]])
  *   7. packing             — concat-then-chunk prefix-sum layout of
  *                            the final corpus
  *                            ([[Packing.packSequences]])
  *
  * One row per stage: survivor count, token total, and (for the pack
  * stage) the chunk count + an md5 digest of the full (doc_id,
  * tok_start) packing manifest — so ANY stage-boundary bug (a column
  * contract, a filter order, an off-by-one in a survivor rule) moves a
  * pinned number. The integration is where such bugs live; every
  * individual stage is already oracle-matched on its own.
  *
  * Scale shape: each stage is the already-audited plan of its
  * standalone operator (hot-key-salted attaches, prefix-filtered
  * candidate joins, sharded prefix sums — never all-pairs, never a
  * corpus-wide single-partition window). The stage frames that feed
  * BOTH a count row and the next stage (`cleaned`, `deduped`,
  * `train`) are eager lineage-truncating checkpoints (see
  * [[fullPrepare]]'s Scaladoc for the measured why); a 100 TB run
  * would checkpoint those boundaries to durable storage instead (same
  * DAG, durable edges). The checkpointed frames are slim (doc_id,
  * text, n_kept) survivor corpora, never exploded token/window
  * planes. */
object Prepare {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private val wsTokens = size(split(col("text"), "\\s+")).cast("long")

  private def stageRow(stage: String, df: DataFrame,
      tokCol: org.apache.spark.sql.Column): DataFrame =
    df.agg(count(lit(1)).cast("long").as("n"),
        sum(tokCol).cast("long").as("tokens"))
      .select(lit(stage).as("stage"), col("n"), col("tokens"),
        lit(null).cast("string").as("digest"))

  /** The default stage-2 gate: per-language top half by n_chars (the
    * rule-heuristic operating point the pipeline shipped with). */
  private def heuristicGate(canon: DataFrame): DataFrame =
    Sampling.topHalfByScore(canon, "lang", "n_chars")

  /** Run the full pipeline; returns the 6-row stage summary.
    *
    * `gate` is the stage-2 quality filter over the CANONICALIZED
    * corpus (columns doc_id, lang, n_chars, text in — at least
    * (doc_id, text) out): the heuristic per-language top half by
    * default, the TRAINED classifier at its PR-chosen threshold in
    * `pipeline_full_prepare_trained` — the same composition seam
    * canonicalization got in r11.
    *
    * Stage boundaries are EAGER lineage-truncating checkpoints, not
    * caches: each stage's logical plan is itself a deep DAG
    * (windows, salted joins, collect_list reassembly), and nesting
    * five of them — then referencing each from both a count row and
    * the next stage — made Catalyst's analysis/canonicalization of
    * the composed tree the dominant cost (measured 264 s/pass at
    * sf0.001 with plain `.cache()`, driver-bound: every Spark job in
    * the log took milliseconds with multi-second planning gaps
    * between them; 5.6 s after truncation). `localCheckpoint` is the
    * [[Dedup.connectedComponents]] precedent — the stage result
    * (slim survivor rows) persists on executors and downstream plans
    * see a leaf; a 100 TB run would checkpoint these boundaries to
    * durable storage instead (same DAG, durable edges).
    *
    * Every job launched while the frame is built (the four checkpoints
    * and any eager work of `gate`, such as a memoized model build) runs
    * under the job description of its stage's report label, so a
    * [[Metrics.record]] of the query is its stage table; the lazy
    * scrub, pack and report rows run in the caller's action. */
  def fullPrepare(d: DataFrame,
      gate: DataFrame => DataFrame = heuristicGate): DataFrame = {
    def stage[T](label: String)(body: => T): T =
      Metrics.labelled(d.sparkSession, label)(body)
    // stage 1: PII scrub + line-rule boilerplate drop on the RAW text
    // (r13 — the stage real pipelines run FIRST: canonicalization
    // erases the punctuation PII patterns match and the newline
    // structure the line rules need). Narrow per-row work over the
    // SPREAD corpus (the Tables.spread single-scan-partition
    // discipline: a small single-file parquet arrives as one task,
    // which would serialize the per-word regex onto one core — at
    // 100 TB the scan is already wide and this slim shuffle is
    // noise); its report row recomputes the (parallel, cheap) scrub
    // once — the materialized boundary is canon below
    val scrub = TextAnalysis
      .scrubbed(graft.Tables.spread(d, col("doc_id")))
      // carry the scrub plane's report metrics THROUGH the canon
      // checkpoint (r19): canonicalized is a row-preserving
      // withColumn, so scrub's row count is canon's and its token
      // total rides along as one long column — the 1_scrub report row
      // then aggregates the checkpointed canon instead of re-running
      // the whole regex scrub chain a second time (one full stage-1
      // recompute per composed-prepare query, measured ~0.5 s warm at
      // sf0.1; at 100 TB a full extra pass over the raw corpus)
      .withColumn("__scrub_ws", wsTokens)
    // stage 2: the canonical plane — a narrow per-row projection (the
    // native nfc_normalize expression + two regex folds); everything
    // downstream shingles/windows canonical text. CHECKPOINTED since
    // r13: with the scrub stage in front the chain is no longer
    // cheap-to-recompute (the per-word line rules run real regex
    // work), and the plane feeds MANY legs — the gate's histogram +
    // keep joins, its own report row, and every stage rooted on the
    // gated survivors; un-spread and un-checkpointed, each leg re-ran
    // the full chain on ONE task (measured: pipeline_full_prepare
    // 4.8 → 8.8 s when the scrub stage first landed; ~7.0 s with the
    // spread + this checkpoint — the residual over r12 is the new
    // stage's honest work)
    val canon = stage("2_canonicalize")(
      TextAnalysis.canonicalized(scrub).localCheckpoint())
    val gated = stage("3_quality_gate")(gate(canon))
    // survivors of the ExactSubstr clean: (doc_id, text, n_kept) —
    // feeds its count row, the near-dup pair join AND the anti-join's
    // keep side
    val cleaned = stage("4_exact_substr")(
      Dedup.exactSubstrCleaned(gated).localCheckpoint())
    // trigram shingles: the dedup_jaccard_prefix3 measurement (the
    // position-richer plane thins candidates 50x at the same
    // threshold) applied where it matters most — inside the composed
    // pipeline's hottest stage
    val deduped = stage("5_near_dup") {
      val losers = Dedup.prefixJaccardPairs(cleaned, shingleWidth = 3)
        .select(col("doc_b").as("doc_id")).distinct()
      cleaned.join(losers, Seq("doc_id"), "left_anti").localCheckpoint()
    }
    val train = stage("6_decontaminate") {
      val flagged = TextAnalysis.decontaminatePairs(deduped)
        .select(col("train_doc").as("doc_id")).distinct()
      deduped.where(col("doc_id") % 10 =!= 0)
        .join(flagged, Seq("doc_id"), "left_anti").localCheckpoint()
    }
    val packed = Packing.packSequences(train)
    val s5 = packed.agg(
      expr(s"(sum(n_tokens) + ${Packing.SeqLen - 1}) div ${Packing.SeqLen}")
        .cast("long").as("n"),
      sum("n_tokens").cast("long").as("tokens"),
      // empty-train guard (r10 advice): DuckDB's string_agg over zero
      // rows is NULL while Spark's array_join over an empty
      // collect_list is '' — gate the digest on row count so BOTH
      // engines return NULL when the pack stage is empty
      when(count(lit(1)) > 0,
        md5(expr("""array_join(transform(
          |  array_sort(collect_list(struct(doc_id, tok_start))),
          |  s -> concat(cast(s.doc_id as string), ':',
          |              cast(s.tok_start as string))), ',')""".stripMargin)))
        .as("digest"))
      .select(lit("7_pack").as("stage"), col("n"), col("tokens"),
        col("digest"))
    stageRow("0_input", d, wsTokens)
      .unionByName(stageRow("1_scrub", canon, col("__scrub_ws")))
      .unionByName(stageRow("2_canonicalize", canon, wsTokens))
      .unionByName(stageRow("3_quality_gate", gated, wsTokens))
      .unionByName(stageRow("4_exact_substr", cleaned, col("n_kept")))
      .unionByName(stageRow("5_near_dup", deduped, col("n_kept")))
      .unionByName(stageRow("6_decontaminate", train, col("n_kept")))
      .unionByName(s5)
      .orderBy("stage")
  }

  /** The oracle replays the SAME five stage algebras as one CTE chain
    * — each stage's CTEs are its standalone query's oracle re-rooted
    * at the previous stage's survivors (MATERIALIZED where a frame
    * has multiple consumers, or DuckDB re-inlines the deep chain).
    * `src` is the corpus source relation (columns doc_id, lang,
    * n_chars, text) — `documents` for the registered query, a crawl
    * extraction CTE for the composed `pipeline_crawl_prepare`. The
    * body is exposed so composing mirrors can prepend their own
    * chains; callers add the WITH prefix and final SELECT. */
  /** The default (heuristic) stage-2 gate CTE: per-language top half
    * by n_chars over `canon`. */
  private[operators] val sqlHeuristicGateCte: String =
    """gate AS MATERIALIZED (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      ROW_NUMBER() OVER (PARTITION BY lang
      |        ORDER BY n_chars DESC, doc_id) AS rnk,
      |      COUNT(*) OVER (PARTITION BY lang) AS nis
      |    FROM canon)
      |  WHERE rnk * 2 <= nis + 1)""".stripMargin

  /** The scrub + canonicalize front as CTEs under caller-chosen names
    * — `sqlFullPrepareCtes` uses the default `scrub`/`canon` pair;
    * the ref-trained ppl gate runs the SAME front over the trusted
    * slice under `ref_scrub`/`ref_canon`. */
  private[operators] def sqlScrubCanonCtes(src: String,
      scrubName: String = "scrub", canonName: String = "canon")
      : String =
    s"""$scrubName AS MATERIALIZED (
       |  SELECT doc_id, lang, n_chars, text FROM (
       |    SELECT doc_id, lang, n_chars,
       |      coalesce(array_to_string(list_filter(string_split(
       |        ${TextAnalysis.sqlScrubRedact("text")},
       |        chr(10)),
       |        l -> len(string_split_regex(l, '\\s+')) >= 3
       |          AND 5 * len(list_filter(string_split_regex(l, '\\s+'),
       |              w -> regexp_matches(w, '[A-Za-z]')))
       |            >= 4 * len(string_split_regex(l, '\\s+'))),
       |        chr(10)), '') AS text
       |    FROM $src) WHERE length(text) > 0),
       |$canonName AS MATERIALIZED (
       |  SELECT doc_id, lang, n_chars,
       |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
       |      '[\\p{P}\\p{S}]+', ' ', 'g'), '\\s+', ' ', 'g')) AS text
       |  FROM $scrubName)""".stripMargin

  private[operators] def sqlFullPrepareCtes(src: String,
      gateCtes: String = sqlHeuristicGateCte): String = {
    val L = Dedup.ExactSubstrMinLen
    s"""${sqlScrubCanonCtes(src)},
       |$gateCtes,
       |gtoks AS MATERIALIZED (SELECT doc_id,
       |    string_split_regex(text, '\\s+') AS ts FROM gate),
       |ww AS MATERIALIZED (SELECT doc_id, p,
       |    md5(array_to_string(list_slice(ts, p + 1, p + $L), ' ')) AS h
       |  FROM (SELECT doc_id, ts,
       |      unnest(generate_series(0, len(ts) - $L)) AS p
       |    FROM gtoks WHERE len(ts) >= $L)),
       |r AS (SELECT doc_id, p,
       |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, p) AS rn
       |  FROM ww),
       |rem AS (SELECT DISTINCT doc_id, pos FROM (
       |    SELECT doc_id, unnest(generate_series(p, p + ${L - 1})) AS pos
       |    FROM r WHERE rn > 1)),
       |tt AS (SELECT doc_id, ts,
       |    unnest(generate_series(0, len(ts) - 1)) AS pos FROM gtoks),
       |j AS (SELECT t.doc_id, t.pos, t.ts[t.pos + 1] AS tok,
       |    r.pos IS NOT NULL AS rm
       |  FROM tt t LEFT JOIN rem r
       |    ON t.doc_id = r.doc_id AND t.pos = r.pos),
       |ne AS MATERIALIZED (SELECT doc_id, n_kept, ctext FROM (
       |    SELECT doc_id,
       |      CAST(COUNT(*) FILTER (WHERE NOT rm) AS BIGINT) AS n_kept,
       |      string_agg(CASE WHEN NOT rm THEN tok END, ' '
       |        ORDER BY pos) AS ctext
       |    FROM j GROUP BY doc_id) WHERE n_kept > 0),
       |tk2 AS MATERIALIZED (SELECT doc_id, unnest(CASE WHEN len(ts) >= 3
       |    THEN list_distinct(list_transform(range(1, len(ts) - 1),
       |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))
       |    ELSE [array_to_string(ts, ' ')] END) AS g
       |  FROM (SELECT doc_id, string_split_regex(ctext, '\\s+') AS ts
       |        FROM ne)),
       |df2 AS (SELECT g, COUNT(*) AS df FROM tk2 GROUP BY g),
       |r2 AS (SELECT t.doc_id, t.g,
       |    ROW_NUMBER() OVER (PARTITION BY t.doc_id
       |      ORDER BY d.df, t.g) AS rk,
       |    COUNT(*) OVER (PARTITION BY t.doc_id) AS n
       |  FROM tk2 t JOIN df2 d USING (g)),
       |p2 AS (SELECT doc_id, g, rk, n FROM r2
       |  WHERE rk <= n - ((9 * n + 9) // 10) + 1),
       |cand0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(MAX(LEAST(a.n - a.rk + 1, b.n - b.rk + 1)) AS BIGINT)
       |      AS ub,
       |    ANY_VALUE(a.n) AS pna, ANY_VALUE(b.n) AS pnb
       |  FROM p2 a JOIN p2 b ON a.g = b.g AND a.doc_id < b.doc_id
       |    AND a.n * 10 >= b.n * 9 AND b.n * 10 >= a.n * 9
       |  GROUP BY doc_a, doc_b),
       |sets2 AS MATERIALIZED (SELECT doc_id, list(g) AS gs,
       |    COUNT(*) AS n FROM tk2 GROUP BY doc_id),
       |losers AS MATERIALIZED (SELECT DISTINCT doc_b FROM (
       |    SELECT c.doc_b, len(list_intersect(sa.gs, sb.gs)) AS inter,
       |      sa.n AS na, sb.n AS nb
       |    FROM (SELECT doc_a, doc_b FROM cand0
       |          WHERE ub * 19 >= 9 * (pna + pnb)) c
       |      JOIN sets2 sa ON sa.doc_id = c.doc_a
       |      JOIN sets2 sb ON sb.doc_id = c.doc_b)
       |  WHERE 10 * inter >= 9 * (na + nb - inter)),
       |dd AS MATERIALIZED (SELECT doc_id, n_kept, ctext FROM ne
       |  WHERE doc_id NOT IN (SELECT doc_b FROM losers)),
       |bg AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(1, len(ts) - 3),
       |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' ||
       |           ts[i+3] || ' ' || ts[i+4]))) AS g
       |  FROM (SELECT doc_id, string_split_regex(ctext, '\\s+') AS ts
       |        FROM dd)
       |  WHERE len(ts) >= 5),
       |rare AS (SELECT g FROM bg GROUP BY g HAVING COUNT(*) <= 20),
       |bgr AS MATERIALIZED (SELECT bg.doc_id, bg.g
       |  FROM bg JOIN rare USING (g)),
       |flag AS MATERIALIZED (SELECT DISTINCT train_doc AS doc_id FROM (
       |    SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc
       |    FROM bgr t JOIN bgr e ON t.g = e.g
       |      AND t.doc_id % 10 <> 0 AND e.doc_id % 10 = 0
       |    GROUP BY 1, 2 HAVING COUNT(DISTINCT t.g) >= 3)),
       |train AS MATERIALIZED (SELECT doc_id, n_kept, ctext FROM dd
       |  WHERE doc_id % 10 <> 0
       |    AND doc_id NOT IN (SELECT doc_id FROM flag)),
       |pk AS MATERIALIZED (SELECT doc_id, n_kept + 1 AS n_tokens,
       |    CAST(SUM(n_kept + 1) OVER (ORDER BY doc_id
       |      ROWS UNBOUNDED PRECEDING) - (n_kept + 1) AS BIGINT)
       |      AS tok_start
       |  FROM train),
       |s AS (
       |  SELECT '0_input' AS stage, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT)
       |      AS tokens,
       |    CAST(NULL AS VARCHAR) AS digest FROM $src
       |  UNION ALL
       |  SELECT '1_scrub', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT),
       |    NULL FROM scrub
       |  UNION ALL
       |  SELECT '2_canonicalize', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT),
       |    NULL FROM canon
       |  UNION ALL
       |  SELECT '3_quality_gate', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT),
       |    NULL FROM gate
       |  UNION ALL
       |  SELECT '4_exact_substr', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(n_kept) AS BIGINT), NULL FROM ne
       |  UNION ALL
       |  SELECT '5_near_dup', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(n_kept) AS BIGINT), NULL FROM dd
       |  UNION ALL
       |  SELECT '6_decontaminate', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(n_kept) AS BIGINT), NULL FROM train
       |  UNION ALL
       |  SELECT '7_pack',
       |    CAST((SUM(n_tokens) + ${Packing.SeqLen - 1})
       |      // ${Packing.SeqLen} AS BIGINT),
       |    CAST(SUM(n_tokens) AS BIGINT),
       |    md5(string_agg(doc_id || ':' || tok_start, ','
       |      ORDER BY doc_id)) FROM pk)""".stripMargin
  }

  private def sqlFullPrepare: String =
    s"""WITH ${sqlFullPrepareCtes("documents")}
       |SELECT stage, n, tokens, digest FROM s ORDER BY stage""".stripMargin

  private def sqlFullPrepareTrained: String =
    s"""WITH ${QualityTrained.sqlModelCtes},
       |${sqlFullPrepareCtes("documents", QualityTrained.sqlTrainedGateCtes)}
       |SELECT stage, n, tokens, digest FROM s ORDER BY stage""".stripMargin

  private def sqlFullPreparePpl: String =
    s"""WITH ${sqlFullPrepareCtes("documents", KnLm.sqlPplGateCtes)}
       |SELECT stage, n, tokens, digest FROM s ORDER BY stage""".stripMargin

  private def sqlFullPreparePplRef: String =
    s"""WITH ${sqlFullPrepareCtes("documents", KnLm.sqlPplGateRefCtes)}
       |SELECT stage, n, tokens, digest FROM s ORDER BY stage""".stripMargin

  private def sqlFullPreparePplRefDecon: String =
    s"""WITH ${sqlFullPrepareCtes("documents",
          KnLm.sqlPplGateRefDeconCtes)}
       |SELECT stage, n, tokens, digest FROM s ORDER BY stage""".stripMargin

  val queries: Seq[Q] = Seq(

    // ---- the full prepare trajectory, hash-matched: quality gate →
    //      ExactSubstr removal → near-dup drop → decontaminate → pack,
    //      one pinned summary row per stage. ----
    Q("pipeline_full_prepare", Some(sqlFullPrepare)) { (s, dir) =>
      fullPrepare(docs(s, dir))
    },

    // ---- the composed prepare with the TRAINED quality gate: the
    //      perceptron of text_quality_trained, at the operating point
    //      text_quality_pr's curve picks (max recall at held-out
    //      precision ≥ 0.9, integer-exact), replaces the heuristic
    //      top-half stage — the r11 canonicalization playbook applied
    //      to the classifier, closing the last exists-standalone-but-
    //      not-composed gap. Mirror = the 30-epoch model chain + the
    //      curve/threshold CTEs + the identical fullPrepare chain with
    //      only its gate CTE swapped; one hash pins train → threshold
    //      → gate → substr → dedup → decontaminate → pack. ----
    Q("pipeline_full_prepare_trained",
        Some(sqlFullPrepareTrained)) { (s, dir) =>
      fullPrepare(docs(s, dir), QualityTrained.trainedGate(s, dir))
    },

    // ---- the composed prepare with CCNet's PERPLEXITY gate: the
    //      5-gram interpolated-KN chain of text_kn5_logprob scores
    //      every canonical doc and the head+middle terciles pass
    //      (pipeline_ppl_buckets_kn5's exact bucket rule, applied as
    //      the filter it exists for). The quality-gate seam now holds
    //      all three real-world gate families — heuristic, trained
    //      classifier, reference-LM perplexity — behind one
    //      composition point. Mirror = the full Q20 chain re-rooted
    //      on the canon CTE + the tercile rule + the identical
    //      fullPrepare chain with only its gate CTE swapped; one hash
    //      pins model → score → tercile → gate → substr → dedup →
    //      decontaminate → pack. ----
    Q("pipeline_full_prepare_ppl",
        Some(sqlFullPreparePpl)) { (s, dir) =>
      fullPrepare(docs(s, dir), KnLm.pplGateMemo(dir))
    },

    // ---- the composed prepare under the REFERENCE-trained perplexity
    //      gate — production CCNet's exact deployment, closing the
    //      train = eval stand-in the r12 variant documented: the
    //      5-gram reference LM trains on the TRUSTED source slice
    //      (run through the SAME scrub + canonicalize front, under
    //      its own mirror CTE names) and scores every canonical doc
    //      of the whole corpus; head + middle terciles pass. One hash
    //      pins trusted-slice front → model → score → tercile → gate
    //      → substr → dedup → decontaminate → pack. ----
    Q("pipeline_full_prepare_ppl_ref",
        Some(sqlFullPreparePplRef)) { (s, dir) =>
      fullPrepare(docs(s, dir), KnLm.pplGateRefMemo(dir))
    },

    // ---- the ref gate with the trusted slice DECONTAMINATED first
    //      (r14): production CCNet dedups the reference corpus
    //      against its eval sets before training — an
    //      eval-overlapping trusted doc would tilt every perplexity
    //      the gate reads. The pipeline_decontaminate pair rule marks
    //      contaminated trusted docs (rarity within trusted ∪ eval),
    //      the clean non-eval remainder trains the reference LM, and
    //      the rest of the chain is pipeline_full_prepare_ppl_ref
    //      verbatim. One hash pins decon → trusted front → model →
    //      score → tercile → gate → substr → dedup → decontaminate →
    //      pack; PrepareSpec pins the gate-decision flip a
    //      contaminated trusted doc causes ONLY in the undeconned
    //      form. ----
    Q("pipeline_full_prepare_ppl_refd",
        Some(sqlFullPreparePplRefDecon)) { (s, dir) =>
      fullPrepare(docs(s, dir), KnLm.pplGateRefDeconMemo(dir))
    })
}
