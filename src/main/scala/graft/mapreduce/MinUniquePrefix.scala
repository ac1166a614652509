package graft.mapreduce

import graft.functions.CommonPrefixLength
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's product query (reference README.md:26,
  * src/main.cpp:61-97): the minimum prefix length L such that the first L
  * characters uniquely identify every line.
  *
  * Three implementations:
  *
  *   - [[find]] — literal parity with the reference's iterative driver
  *     loop (one distributed job per candidate L, stop at first success),
  *     over lines sorted once;
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

  /** Iterative driver parity (reference src/main.cpp:61-97): the first L
    * in [1, maxLen] whose prefixes are all unique, else -1. One
    * distributed job per candidate L, stopping at the first success.
    *
    * The reference re-sorts the mapped prefixes for every L, but the sort
    * does not depend on L: the lines are sorted once ([[sortedRuns]]), and
    * each L is then one single-stage job over those sorted runs that
    * reuses the sort's shuffle output. Sorted order keeps every group of
    * lines that share an L-prefix contiguous, so each partition compares
    * adjacent L-prefixes — the reference's adjacent-compare reducer — and
    * returns (first prefix, last prefix, saw duplicate); the driver
    * stitches the partition boundaries.
    *
    * Prefixes count code points, as SQL `substring` does. Null lines share
    * one null prefix, as in a SQL `groupBy`: two or more collide at every
    * L, a single one is unique. Empty input gives 1.
    */
  def find(lines: Dataset[String], maxLen: Int): Int = {
    val runs = sortedRuns(lines).rdd
    (1 to maxLen).find(l => prefixesUnique(runs, l)).getOrElse(-1)
  }

  /** True when every `l`-prefix of the sorted `runs` is unique: one job of
    * per-partition summaries, stitched at the partition boundaries. */
  private def prefixesUnique(runs: RDD[String], l: Int): Boolean = {
    val summaries = runs.mapPartitions(prefixSummary(_, l)).collect()
    !summaries.exists(_._3) && summaries.indices.drop(1).forall { i =>
      summaries(i - 1)._2 != summaries(i)._1
    }
  }

  /** (first prefix, last prefix, saw duplicate) of one sorted partition,
    * nothing for an empty one. Stops at the first duplicate, which already
    * decides the job. */
  private def prefixSummary(it: Iterator[String],
      l: Int): Iterator[(String, String, Boolean)] =
    if (!it.hasNext) Iterator.empty
    else {
      val first = codePointPrefix(it.next(), l)
      var last = first
      var dup = false
      while (!dup && it.hasNext) {
        val p = codePointPrefix(it.next(), l)
        dup = p == last
        last = p
      }
      Iterator.single((first, last, dup))
    }

  /** The first `l` code points of `s` (all of a shorter `s`), as SQL
    * `substring(s, 1, l)` counts them; null stays null. */
  private def codePointPrefix(s: String, l: Int): String =
    if (s == null || s.length <= l) s
    else {
      var end = 0
      var n = 0
      while (n < l && end < s.length) {
        end += Character.charCount(s.codePointAt(end))
        n += 1
      }
      s.substring(0, end)
    }

  /** `lines` range-partitioned and sorted by value: one shuffle, whose
    * partitions are sorted runs in global key order. No more partitions
    * than the input has or `spark.sql.shuffle.partitions` allows. Shared by
    * [[find]] and [[minUniqueLen]]. */
  private[mapreduce] def sortedRuns(lines: Dataset[String]): Dataset[String] = {
    val parts = math.max(1, math.min(
      lines.sparkSession.sessionState.conf.numShufflePartitions,
      lines.rdd.getNumPartitions))
    lines.repartitionByRange(parts, col("value")).sortWithinPartitions("value")
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
    // (first, last, maxLcp, sawDuplicate) per sorted partition, in global
    // key order because the exchange is a RangePartitioner.
    val summaries = sortedRuns(lines)
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
