package graft

import scala.util.control.NonFatal

/** AQE parity sweep (round-8 verdict task #5): Spark 4 runs ADAPTIVE
  * execution by default, and every harness session (Verify, Bench, the
  * shared test session) inherits that default — so the production
  * configuration the 100 TB story assumes is the one the oracle already
  * checks. What nothing proved until now is the other direction: that
  * results and plan hygiene SURVIVE toggling AQE, i.e. that no query's
  * answer depends on runtime re-planning (broadcast-threshold
  * flip-flops, coalesced shuffle partitions, skew splits) in either
  * direction. This sweep runs the bench top-10 heaviest queries plus
  * the round-9 additions with adaptive ON (the shared session's run in
  * [[InventoryRuns]]) and OFF (a sibling session), and asserts
  * cell-exact result equality (doubles compared by IEEE bit pattern,
  * the oracle check's hash discipline) plus the PlanHygieneSpec
  * no-NL-join rule on the executed plans under BOTH settings. Every
  * offending query is named in one failure.
  */
class AqeParitySpec extends SparkSpec {

  /** Bench top-10 by round-8 cost + the round-9 operator additions. */
  private val sweep = Seq(
    "emb_power_iteration_int", "text_bpe_merges", "pipeline_decontaminate",
    "text_bigram_logprob", "ann_ivfpq_rerank_int", "pipeline_paragraph_dedup",
    "pipeline_drop_near_dups", "ann_pq_adc_int", "dedup_ngram_jaccard",
    "dedup_simhash",
    // round-9 additions
    "pipeline_exact_substr", "emb_kmeans_converged", "dedup_jaccard_prefix",
    "q_zorder_prune", "text_unigram_lm", "text_unigram_tokenize",
    "pipeline_exact_substr_removal", "ann_hamming_mih", "text_nb_langid",
    "dedup_containment",
    // round-10 additions
    "mm_image_dedup", "pipeline_full_prepare", "q_heavy_hitters",
    "text_canonicalize", "text_quality_trained",
    "pipeline_decontaminate_bloom", "dedup_jaccard_prefix3",
    "mm_audio_dedup", "mm_video_dedup", "mm_image_cluster",
    "text_lm_doclogprob",
    // round-11 additions
    "q_warc_extract", "mm_image_dedup_resized", "mm_pair_dedup",
    "text_kn_logprob", "text_common_bigrams_cms", "text_quality_pr",
    "pipeline_crawl_prepare", "text_kn3_logprob",
    "pipeline_ppl_buckets", "mm_warc_media", "mm_audio_dedup_pooled",
    // round-12 additions
    "q_warc_extract_gz", "pipeline_full_prepare_trained",
    "text_kn5_logprob", "pipeline_ppl_buckets_kn5",
    "mm_video_dedup_pooled", "pipeline_warc_prepare",
    "q_warc_url_dedup", "q_warc_wet_roundtrip", "pipeline_url_prepare",
    "pipeline_full_prepare_ppl",
    // round-13 additions
    "text_kn5_logprob_ref", "text_scrub_lines",
    "pipeline_crawl_prepare_langid",
    "mm_warc_media_audio", "mm_warc_media_video",
    "pipeline_full_prepare_ppl_ref",
    // round-14 additions
    "q_warc_domain_filter", "pipeline_full_prepare_ppl_refd")

  test("bench top-10 + round-9 queries: identical results and clean " +
      "plans with AQE ON and OFF") {
    // AQE ON is the shared session's default (InventoryRuns checks it):
    // its results and final plans are the recorded run
    val off = spark.newSession()
    off.conf.set("spark.sql.adaptive.enabled", "false")
    val problems = sweep.flatMap { name =>
      val on = InventoryRuns(spark, sfDir, name)
      off.catalog.clearCache()
      try {
        val dOff = SparkEntry.queries(name)(off, sfDir)
        val rOff = InventoryRuns.canon(dOff)
        val diverged =
          if (on.canonRows == rOff) None
          else Some(s"$name: AQE on/off results diverge " +
            s"(${on.canonRows.size} vs ${rOff.size} rows)")
        val nl =
          if (PlanHygieneSpec.allowed(name)) Nil
          else Seq("on" -> on.nlJoinsAfter,
            "off" -> InventoryRuns.nlJoins(dOff.queryExecution.executedPlan))
            .collect { case (mode, bad) if bad.nonEmpty =>
              s"$name: NL/cartesian join appeared with AQE $mode: $bad" }
        diverged ++: nl
      } catch {
        case NonFatal(e) => Seq(s"$name: failed with AQE off: $e")
      }
    }
    assert(problems.isEmpty, problems.mkString("\n"))
  }
}
