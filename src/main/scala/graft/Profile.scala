package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-level profiler for the composed prepare pipelines (guide §1:
  * measure first). Replays [[graft.operators.Prepare.fullPrepare]]'s
  * exact stage chain through the public operator entry points, timing
  * each stage boundary separately (forced with the noop sink so the
  * timing is the computation, not a count-pruned subtree), so the
  * expensive stage of a 5-9 s composed query is identified by number
  * instead of guesswork. Profiling harness only — never registered,
  * never part of the driver contract. */
object Profile {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def timed(s: SparkSession, name: String)(work: => Unit): Unit = {
    s.sparkContext.setJobDescription(name)
    val t0 = System.nanoTime()
    work
    println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    s.sparkContext.setJobDescription(null)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val spark = GraftSession()
    import graft.operators._
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(_.toIntOption).getOrElse(2)
    (1 to passes).foreach { p =>
      println(s"[profile] ---- pass $p ----")
      val d = Tables.load(spark, sfDir, "documents")
      var scrub: DataFrame = null
      var canon: DataFrame = null
      var gated: DataFrame = null
      var cleaned: DataFrame = null
      var deduped: DataFrame = null
      var train: DataFrame = null
      // this chain MIRRORS Prepare.fullPrepare stage for stage (same
      // gate, same shingleWidth, same eval split, same __scrub_ws
      // carry) — when fullPrepare's chain changes, change this too
      // (advice: the profile must time what Bench actually measures)
      timed(spark, "1_scrub (noop)") {
        scrub = TextAnalysis.scrubbed(Tables.spread(d, col("doc_id")))
          .withColumn("__scrub_ws",
            size(split(col("text"), "\\s+")).cast("long"))
        noop(scrub)
      }
      // NOTE (r19, advice): scrub is lazy — this stage's time INCLUDES
      // one full scrub recompute (stage 1 is the plan shape, not a
      // materialized boundary), exactly as in the production chain;
      // read stages 1+2 together for attribution.
      timed(spark, "2_canon checkpoint (incl scrub)") {
        canon = TextAnalysis.canonicalized(scrub).localCheckpoint()
      }
      timed(spark, "3_gate (noop)") {
        gated = Sampling.topHalfByScore(canon, "lang", "n_chars")
        noop(gated)
      }
      timed(spark, "4_exact_substr checkpoint") {
        cleaned = Dedup.exactSubstrCleaned(gated).localCheckpoint()
      }
      timed(spark, "5_near_dup checkpoint") {
        val losers = Dedup.prefixJaccardPairs(cleaned, shingleWidth = 3)
          .select(col("doc_b").as("doc_id")).distinct()
        deduped = cleaned.join(losers, Seq("doc_id"), "left_anti")
          .localCheckpoint()
      }
      timed(spark, "6_decontaminate checkpoint") {
        val flagged = TextAnalysis.decontaminatePairs(deduped)
          .select(col("train_doc").as("doc_id")).distinct()
        train = deduped.where(col("doc_id") % 10 =!= 0)
          .join(flagged, Seq("doc_id"), "left_anti").localCheckpoint()
      }
      timed(spark, "7_pack (noop)") {
        noop(Packing.packSequences(train))
      }
      timed(spark, "8_report rows (count)") {
        // the stage-summary rows of the registered query recompute the
        // token splits over d/scrub/canon + the checkpointed leaves
        // collect() the single agg row (advice): .count() on a global
        // aggregate references none of its columns, so Catalyst prunes
        // the sum expressions and the stage under-measures
        val wsTokens = size(split(col("text"), "\\s+")).cast("long")
        d.agg(count(lit(1)), sum(wsTokens)).collect()
        // 1_scrub's row reads the carried __scrub_ws column off the
        // CHECKPOINTED canon (no scrub recompute) since r19
        canon.agg(count(lit(1)), sum(col("__scrub_ws"))).collect()
        Seq(canon, gated).foreach(df =>
          df.agg(count(lit(1)), sum(wsTokens)).collect())
        Seq(cleaned, deduped, train).foreach(df =>
          df.agg(count(lit(1)), sum(col("n_kept"))).collect())
      }
      timed(spark, "full fullPrepare (count)") {
        Prepare.fullPrepare(d).count()
      }
      // clearCache() covers .cache() frames only; localCheckpoint RDD
      // blocks linger until GC-driven cleanup (advice) — explicitly
      // unpersist every persisted RDD (the checkpointed leaves of this
      // pass, both the profiler's and fullPrepare's own) so later
      // passes run under the same memory pressure as pass 1
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    spark.stop()
  }
}
