package graft.mapreduce

import graft.functions.CommonPrefixLength
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's product query (reference README.md:26,
  * src/main.cpp:61-97): the minimum prefix length L such that the first L
  * characters uniquely identify every line.
  *
  * Three implementations:
  *
  *   - [[find]] — literal parity with the reference's iterative driver
  *     loop (one distributed job per candidate L, stop at first success);
  *   - [[findOneShot]] — all candidate lengths in ONE job (explode L,
  *     two-level aggregation); what the driver loop should have been;
  *   - [[minUniqueLen]] — the 100 TB-scale algorithm: sort lines once
  *     (range partition + partition-local sort), take the max
  *     longest-common-prefix of globally adjacent lines; answer is
  *     `max(LCP) + 1`. One shuffle, no candidate-length explosion, and
  *     partition boundaries are stitched driver-side from the tiny
  *     (first, last, maxLcp) per-partition summaries.
  *
  * Duplicate full lines mean no L works — the reference's bounded driver
  * then just reports its cap (quirk Q4, src/main.cpp:61,99); we return -1.
  */
object MinUniquePrefix {

  /** Iterative driver parity (reference src/main.cpp:61-97). Returns the
    * first L in [1, maxLen] whose prefixes are all unique, else -1.
    */
  def find(lines: Dataset[String], maxLen: Int): Int = {
    val cached = lines.cache()
    try {
      var l = 1
      while (l <= maxLen) {
        val dup = cached
          .select(substring(col("value"), 1, l).as("p"))
          .groupBy("p").count()
          .filter(col("count") > 1)
        if (dup.isEmpty) return l
        l += 1
      }
      -1
    } finally cached.unpersist()
  }

  /** One job for all candidate lengths: explode L in [1, maxLen], count
    * collisions per (L, prefix), pick the smallest clean L.
    */
  def findOneShot(lines: Dataset[String], maxLen: Int): Int = {
    val perLen = lines
      .select(explode(sequence(lit(1), lit(maxLen))).as("len"), col("value"))
      .select(col("len"), col("value").substr(lit(1), col("len")).as("p"))
      .groupBy("len", "p").agg(count(lit(1)).as("c"))
      .groupBy("len").agg(max(col("c")).as("mx"))
    val row = perLen.filter(col("mx") <= 1)
      .agg(coalesce(min(col("len")), lit(-1)).as("min_len"))
      .head()
    row.getInt(0)
  }

  /** Scale path: `1 + max(lcp(adjacent sorted lines))`, capped at maxLen
    * (−1 beyond the cap or when full-line duplicates exist). One
    * range-partitioned sort; per-partition work is a streaming fold.
    */
  def minUniqueLen(lines: Dataset[String], maxLen: Int): Int = {
    val spark = lines.sparkSession
    val parts = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions,
      math.max(1, (lines.rdd.getNumPartitions))))
    // (first, last, maxLcp, sawDuplicate) per sorted partition, in global
    // key order because the exchange is a RangePartitioner.
    val summaries = lines
      .repartitionByRange(parts, col("value"))
      .sortWithinPartitions("value")
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          var first: String = null
          var prev: String = null
          var mx = 0
          var dup = false
          while (it.hasNext) {
            val s = it.next()
            if (first == null) first = s
            else {
              if (s == prev) dup = true
              mx = math.max(mx, CommonPrefixLength.lcp(prev, s))
            }
            prev = s
          }
          Iterator.single((first, prev, mx, dup))
        }
      }(Encoders.tuple(Encoders.STRING, Encoders.STRING,
        Encoders.scalaInt, Encoders.scalaBoolean))
      .collect()

    if (summaries.isEmpty) return -1
    var mx = 0
    var dup = false
    var i = 0
    while (i < summaries.length) {
      val (first, _, m, d) = summaries(i)
      mx = math.max(mx, m)
      dup ||= d
      if (i > 0) {
        val prevLast = summaries(i - 1)._2
        if (prevLast == first) dup = true
        mx = math.max(mx, CommonPrefixLength.lcp(prevLast, first))
      }
      i += 1
    }
    val ans = mx + 1
    if (dup || ans > maxLen) -1 else ans
  }

  /** Parity form through the generic MapReduce API: one
    * [[uniquePrefixJob]] round per candidate L, stop at the first success.
    */
  def findViaMapReduce(spark: SparkSession, lines: Dataset[String],
      maxLen: Int, mappers: Int = 3, reducers: Int = 2): Int = {
    val cached = lines.cache()
    try (1 to maxLen).find(l => uniquePrefixJob(mappers, reducers, l).run(cached))
      .getOrElse(-1)
    finally cached.unpersist()
  }

  /** The reference's client job for candidate length `l`: prefix
    * projection mapper (src/main.cpp:62-74) and sorted-stream duplicate
    * detection reducer (intent of src/main.cpp:75-91), race-free. True
    * when every `l`-prefix is unique. Shared by [[findViaMapReduce]] and
    * the CLI driver [[Main.findIteratively]].
    */
  def uniquePrefixJob(mappers: Int, reducers: Int,
      l: Int): MapReduceJob[String, Int, Boolean] =
    MapReduceJob.boolAnd[String](mappers, reducers) {
      line => List((line.take(l), 1))
    } { it =>
      var prev: String = null
      var ok = true
      while (it.hasNext) {
        val (k, c) = it.next()
        if (c > 1 || k == prev) ok = false
        prev = k
      }
      ok
    }

  /** Typed-UDAF surface (SURVEY §7 M4): per-prefix occurrence counting as
    * an `Aggregator` over `groupByKey`, uniqueness as the `every`
    * (`bool_and`) of count==1. Mirrors the reference's reducer-as-UDAF
    * shape (reference src/mapreduce.hpp:27) through Spark's typed
    * aggregation surface instead of an ordered fold. */
  object CountOccurrences
      extends org.apache.spark.sql.expressions.Aggregator[String, Long, Long] {
    override def zero: Long = 0L
    override def reduce(b: Long, a: String): Long = b + 1
    override def merge(b1: Long, b2: Long): Long = b1 + b2
    override def finish(b: Long): Long = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[Long] =
      Encoders.scalaLong
    override def outputEncoder: org.apache.spark.sql.Encoder[Long] =
      Encoders.scalaLong
  }

  /** Iterative search using the typed Aggregator + `every` — the M4
    * variant; must agree with every other implementation. */
  def findViaAggregator(lines: Dataset[String], maxLen: Int): Int = {
    import lines.sparkSession.implicits._
    val cached = lines.cache()
    try {
      var l = 1
      while (l <= maxLen) {
        val ll = l
        val counts = cached.map(_.take(ll))
          .groupByKey(identity)
          .agg(CountOccurrences.toColumn.name("c"))
        val allUnique = counts
          .select(every(col("c") === 1).as("ok"))
          .head().getBoolean(0)
        if (allUnique) return l
        l += 1
      }
      -1
    } finally cached.unpersist()
  }

  /** DataFrame wrapper used by the SparkEntry inventory. */
  def asDF(spark: SparkSession, texts: DataFrame, column: String,
      maxLen: Int): DataFrame = {
    import spark.implicits._
    val lines = texts.select(col(column).cast("string").as("value"))
      .na.drop().as[String]
    Seq(minUniqueLen(lines, maxLen).toLong).toDF("min_len")
  }
}
