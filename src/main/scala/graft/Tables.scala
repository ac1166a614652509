package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * `events.parquet` stores `ts` as parquet TIMESTAMP(NANOS), which Spark's
  * vectorized reader only surfaces as a raw nanosecond LongType (via
  * `spark.sql.legacy.parquet.nanosAsLong`). [[events]] normalizes it back to
  * a microsecond TimestampType with exact integer arithmetic (`div 1000`,
  * never double division — 2024 epoch-nanos exceed 2^53).
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** Spread rows across the session's full parallelism before an
    * explode/heavy-projection stage: a small single-file parquet arrives
    * as ONE scan partition (file < maxPartitionBytes), which would
    * serialize all downstream CPU work onto a single core; at 100 TB the
    * scan is already wide and this slim-row shuffle is noise. With
    * `keys`, spread by hash of those columns so a downstream per-key
    * aggregate reuses the partitioning instead of adding a second
    * exchange of the (much wider) exploded rows. */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (keys.isEmpty) df.repartition(n) else df.repartition(n, keys: _*)
  }

  /** Cheap on-disk content fingerprint of a table (file names, lengths,
    * mtimes — no Spark job, no data read). [[Memo]] keys on THIS rather
    * than the bare dir string, so a table regenerated on disk under the
    * same path gets a fresh key instead of silently reusing a stale
    * model or filter (a stale eval-slice bloom would drop train grams as
    * false negatives, breaking the lossless guarantee). A path that does
    * not exist (spec fixtures keyed by synthetic names) folds to a
    * stable `#absent` key, preserving in-process memo reuse for
    * fixtures. */
  def fingerprint(dir: String, name: String): String = {
    // listFiles returns null on an I/O error or when the directory
    // vanishes between exists() and the walk (a concurrent table
    // rewrite) — treat that as an empty listing, same as latestIndex
    // in StreamOps (r11 advice)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .toSeq.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val root = new java.io.File(s"$dir/$name.parquet")
    if (!root.exists()) s"$dir/$name.parquet#absent"
    else walk(root)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString(s"$dir/$name.parquet#", ",", "")
  }

  /** ns-long `ts` → TimestampType(µs); floor semantics match DuckDB's
    * `epoch_us` truncation on the same values. */
  private def normalizeTs(df: DataFrame): DataFrame =
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
}
