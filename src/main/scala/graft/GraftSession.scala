package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is built, so every main and the test fixture
  * run with the same settings: a plan inspected by [[Explain]] is the
  * plan [[Bench]] times. A caller passes only the settings it alone
  * needs, as `key -> value` pairs that override the shared ones. */
object GraftSession {
  private val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Table directory for the mains that take no `sfDir` argument. */
  val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private val settings = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores,
    "spark.sql.extensions" -> classOf[GraftExtensions].getName,
    "spark.sql.session.timeZone" -> "UTC",
    // events.parquet stores ts as TIMESTAMP(NANOS): read it as long,
    // Tables.load converts back to µs exactly
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    // 70+ queries x several codegen stages overflow the default 100
    // entries; evictions force multi-second janino recompiles mid-run
    "spark.sql.codegen.cache.maxEntries" -> "2000")

  def apply(overrides: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
    (settings ++ overrides).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
