package graft

import scala.util.control.NonFatal

/** Broadcast-independence sweep: at 100 TB, sides that broadcast at
  * test scale (dimension tables, count frames, candidate sets) can
  * outgrow the driver, and Spark silently degrades the join to
  * shuffle — so correctness must not depend on the broadcast
  * STRATEGY, only on the join's algebra. This sweep re-runs a
  * representative slice of the inventory (dim-join relational,
  * salted-attach text ops, candidate-verify dedup, ANN rank paths)
  * under `spark.sql.autoBroadcastJoinThreshold = -1` AND
  * `spark.sql.adaptive.autoBroadcastJoinThreshold = -1` (no
  * automatic broadcasts anywhere; only explicit broadcast() hints
  * remain, which model genuinely-bounded frames like 1-row totals)
  * and asserts cell-exact equality with the default session's run in
  * [[InventoryRuns]], naming every diverging query in one failure.
  */
class NoBroadcastParitySpec extends SparkSpec {

  private val sweep = Seq(
    "q5_region_revenue",      // 6-way dim join
    "q10_returned_items",     // order-key join + dims
    "q21_waiting_supplier",   // per-order distinct agg + supplier dim
    "text_doc_keywords",      // salted df attach + rank
    "pipeline_decontaminate", // rarity attach + pair explode
    "dedup_jaccard_prefix",   // prefix candidates + set verify joins
    "pipeline_exact_substr",  // count attach + island merge
    "ann_hamming_mih",        // chunk equijoin + sig attach
    "ann_ivf_int",            // cell equijoin + rank
    "q_semi_join", "q_anti_join", "q_full_outer_join",
    // round-10 additions with joins worth de-broadcasting: the banded
    // Hamming candidate joins, the CMS estimate attach, the bloom-
    // pruned rarity attach, the perceptron scoring join and the LM
    // segmentation attach
    "mm_image_dedup", "mm_audio_dedup", "q_heavy_hitters",
    "pipeline_decontaminate_bloom", "text_quality_trained",
    "text_lm_doclogprob", "dedup_jaccard_prefix3",
    // round-11 additions with joins worth de-broadcasting: the pooled
    // banded join, the cross-modal conjunction, the KN score attaches,
    // the sketch-predicate salted join, the curve's score join
    "mm_image_dedup_resized", "mm_pair_dedup", "text_kn_logprob",
    "text_common_bigrams_cms", "text_quality_pr", "text_kn3_logprob",
    "mm_warc_media", "mm_audio_dedup_pooled",
    // round-12 additions with joins worth de-broadcasting: the trained
    // gate's score attach inside the composed prepare, the 3-level Q20
    // chain's per-level attaches, the pooled video banded join
    "pipeline_full_prepare_trained", "text_kn5_logprob",
    "mm_video_dedup_pooled",
    // the URL-dedup keeper join back to the record set
    "pipeline_url_prepare",
    // the kn5 chain's per-level attaches inside the composed gate
    "pipeline_full_prepare_ppl")

  test("a no-automatic-broadcast session produces cell-identical " +
      "results across dim joins, salted attaches, candidate verifies " +
      "and ANN ranks") {
    val nobc = spark.newSession()
    nobc.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    nobc.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val diverged = sweep.flatMap { name =>
      val a = InventoryRuns(spark, sfDir, name).canonRows
      nobc.catalog.clearCache()
      try {
        val b = InventoryRuns.canon(SparkEntry.queries(name)(nobc, sfDir))
        if (a == b) None
        else Some(s"$name: results depend on the broadcast strategy " +
          s"(${a.size} vs ${b.size} rows)")
      } catch {
        case NonFatal(e) => Some(s"$name: failed without broadcasts: $e")
      }
    }
    assert(diverged.isEmpty, diverged.mkString("\n"))
  }
}
