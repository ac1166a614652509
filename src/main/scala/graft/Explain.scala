package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Plan inspection over the tables in `SPARK_GRAFT_SF_DIR`:
  *
  *  - `runMain graft.Explain <query…>` prints each query's formatted
  *    physical plan;
  *  - `runMain graft.Explain --run <query…>` also executes it against a
  *    noop sink and prints measured shuffle volumes (exchanges / records
  *    / bytes via [[Metrics.shuffleSummary]]) — the plan you'd want AND
  *    the volumes proving it;
  *  - `runMain graft.Explain --dump <outFile> [query…]` writes the
  *    PLANS.md entries (default: every registered query) — one compact
  *    plan-shape entry per query: the formatted tree plus the
  *    deduplicated scan-pushdown lines, the evidence PLANS.md's audit
  *    discipline reads (exchanges, broadcasts, PushedFilters, pruned
  *    ReadSchema). Node-detail bodies are omitted; print any entry in
  *    full with the first form. */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    args.toList match {
      case "--dump" :: outFile :: names =>
        dump(spark, outFile,
          if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq)
      case _ =>
        val (run, names) = args.partition(_ == "--run")
        for (n <- names) {
          println(s"===== $n =====")
          val df = SparkEntry.queries(n)(spark, GraftSession.sfDir)
          df.explain("formatted")
          if (run.nonEmpty) {
            // execute THIS DataFrame's own QueryExecution: df.write would
            // build a fresh one and the metrics would land on that copy
            df.queryExecution.toRdd.foreach(_ => ())
            println(s"measured: ${Metrics.shuffleSummary(df)}")
            spark.catalog.clearCache()
          }
        }
    }
    spark.stop()
  }

  /** The `no_oracle` quartet's one-line pointers: a reader of PLANS.md
    * sees, inline with each rows-only query's plan, WHICH hash-matched
    * algebraic twin and compensating spec carry its correctness — one
    * artifact instead of a cross-check against INVENTORY.md § no_oracle
    * (which remains the long form). */
  private val noOracleNotes: Map[String, String] = Map(
    "dedup_minhash_lsh" -> ("no_oracle (xxhash64 signatures) — " +
      "hash-matched twin: dedup_minhash_md5 (same banding code path, " +
      "md5 scheme); compensating spec: DedupSpec LSH recall/" +
      "determinism pins. Long form: INVENTORY.md § no_oracle."),
    "dedup_simhash" -> ("no_oracle (xxhash64 fingerprint bits) — " +
      "hash-matched twin: dedup_simhash_md5; compensating spec: " +
      "DedupSpec simhash + partition-invariance pins. Long form: " +
      "INVENTORY.md § no_oracle."),
    "ann_lsh_topk" -> ("no_oracle (seeded gaussian hyperplanes) — " +
      "hash-matched twin: ann_lsh_int (same lshTopK path, integer " +
      "hyperplanes); compensating spec: SimilaritySpec recall@5 " +
      "gates. Long form: INVENTORY.md § no_oracle."),
    "ann_ivf_topk" -> ("no_oracle (distributed Lloyd centroids) — " +
      "hash-matched twin: ann_ivf_int (same ivfTopKTrained path, " +
      "fixed centroids); compensating spec: SimilaritySpec trained-" +
      "IVF recall gates. Long form: INVENTORY.md § no_oracle."))

  private def dump(spark: SparkSession, outFile: String,
      names: Seq[String]): Unit = {
    val sb = new StringBuilder
    for (n <- names.sorted) {
      val df = SparkEntry.queries(n)(spark, GraftSession.sfDir)
      val lines = df.queryExecution.explainString(FormattedMode)
        .linesIterator.toSeq
      val tree = lines.takeWhile(_.trim.nonEmpty)
      val push = lines.filter(l =>
          l.contains("PushedFilters") || l.contains("ReadSchema"))
        .map(_.trim).distinct
        .map(l => if (l.length > 160) l.take(157) + "..." else l)
      sb ++= s"## $n\n\n"
      noOracleNotes.get(n).foreach(note => sb ++= s"_${note}_\n\n")
      sb ++= s"```\n${tree.mkString("\n")}\n```\n"
      if (push.nonEmpty)
        sb ++= s"\n```\n${push.mkString("\n")}\n```\n"
      sb ++= "\n"
      spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[explain] wrote ${names.size} entries to $outFile")
  }
}
