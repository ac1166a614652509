package graft.mapreduce

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's lecture capabilities (reference
  * description/MapReduce.cpp, required surface per
  * description/homework/mapreduce.h:9-10) plus the MapReduce-parity query
  * inventory entries over the synthetic tables.
  *
  *   - sum of squares          (MapReduce.cpp:19-36)
  *   - count distinct by |x|   (MapReduce.cpp:43-68)
  *   - word count              (MapReduce.cpp:84-150)
  *   - min-unique-prefix       (the product query, src/main.cpp)
  */
object Lecture {

  /** Sum of squares — `transform(x => x*x)` then fold `+`
    * (MapReduce.cpp:19-36). */
  def sumOfSquares(xs: Dataset[Int]): Long =
    xs.agg(sum((col("value") * col("value")).cast("long"))).head().getLong(0)

  /** Count distinct by absolute value — map abs, shuffle-sort, fold
    * counting changes (MapReduce.cpp:43-68). */
  def countDistinctAbs(xs: Dataset[Int]): Long =
    xs.agg(countDistinct(abs(col("value")))).head().getLong(0)

  /** Word count — lowercase, strip non-alpha, whitespace-split
    * (MapReduce.cpp:91-102), then group-count (both the `std::map` and the
    * sort-based variants collapse to the same declarative plan; Spark's
    * partial+final HashAggregate IS the "combiner" the reference only
    * sketches at client.cpp:40-43). */
  def wordCount(lines: DataFrame, column: String): DataFrame =
    lines
      .select(explode(split(lower(regexp_replace(col(column), "[^a-zA-Z ]", "")),
        "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Word count pushed through the generic MapReduce API — the spec's own
    * acceptance test (mapreduce.h:9-10). The reducer STREAMS its
    * adjacent-merge output (one (word, count) at a time off the sorted
    * run, MapReduce.cpp:125-150) and the counts stay distributed as a
    * Dataset: nothing vocabulary-sized ever crosses the driver. (Round 1
    * folded full per-partition Maps through collect() + merge — a driver
    * bottleneck at corpus scale; `merge` is only for bounded summaries.)
    */
  def wordCountViaMapReduce(spark: SparkSession, lines: Dataset[String],
      mappers: Int = 3, reducers: Int = 2): Dataset[(String, Long)] = {
    import spark.implicits._
    MapReduceJob.streaming[String, Int, (String, Long)](
      mappers, reducers,
      mapper = line => line.toLowerCase.replaceAll("[^a-z ]", "")
        .split("\\s+").toList.filter(_.nonEmpty).map(_ -> 1)) { it =>
      // sorted stream: constant-memory adjacent-merge fold — equal keys
      // are adjacent, so one running (key, count) suffices
      val buf = it.buffered
      new Iterator[(String, Long)] {
        def hasNext: Boolean = buf.hasNext
        def next(): (String, Long) = {
          val k = buf.head._1
          var c = 0L
          while (buf.hasNext && buf.head._1 == k) c += buf.next()._2
          (k, c)
        }
      }
    }(lines)
  }

  /** Sum of squares through the generic MapReduce API (the framework must
    * express every lecture task, mapreduce.h:9-10): constant key, squared
    * value, per-partition sum, merge +. */
  def sumOfSquaresViaMapReduce(spark: SparkSession, lines: Dataset[String],
      mappers: Int = 3, reducers: Int = 2): Long =
    new MapReduceJob[String, Int, Long](
      mappers, reducers,
      mapper = line => List(("x", line.trim.toInt)),
      reducer = it => it.map { case (_, v) => v.toLong * v }.sum,
      merge = _ + _).run(lines)

  /** Count-distinct-by-absolute-value through the generic API: key |x|,
    * sorted-stream change counting per partition (the lecture's
    * map_shuffle_reduce shape, MapReduce.cpp:43-68); range partitioning
    * puts each key in exactly one partition, so per-partition distinct
    * counts add up to the global count. */
  def countDistinctAbsViaMapReduce(spark: SparkSession,
      lines: Dataset[String], mappers: Int = 3, reducers: Int = 2): Long =
    new MapReduceJob[Int, Int, Long](
      mappers, reducers,
      mapper = line => List((math.abs(line.trim.toInt), 1)),
      reducer = it => {
        var prev = Integer.MIN_VALUE
        var first = true
        var n = 0L
        for ((k, _) <- it) {
          if (first || k != prev) n += 1
          prev = k; first = false
        }
        n
      },
      merge = _ + _).run(lines)

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")
  private def li(s: SparkSession, dir: String) = Tables.load(s, dir, "lineitem")

  val queries: Seq[Q] = Seq(

    Q("mr_min_unique_prefix", Some(
      """WITH lens AS (SELECT CAST(unnest(range(1,601)) AS INT) AS len),
        |g AS (SELECT len, substr(text, 1, len) AS p, COUNT(*) AS c
        |      FROM documents, lens GROUP BY len, p),
        |per AS (SELECT len, MAX(c) AS mx FROM g GROUP BY len)
        |SELECT CAST(COALESCE(MIN(len), -1) AS BIGINT) AS min_len
        |FROM per WHERE mx <= 1""".stripMargin)) { (s, dir) =>
      MinUniquePrefix.asDF(s, docs(s, dir), "text", 600)
    },

    Q("mr_prefix_collisions", Some(
      """SELECT substr(text, 1, 8) AS prefix, COUNT(*) AS n
        |FROM documents GROUP BY prefix HAVING COUNT(*) > 1
        |ORDER BY prefix""".stripMargin)) { (s, dir) =>
      docs(s, dir)
        .select(substring(col("text"), 1, 8).as("prefix"))
        .groupBy("prefix").agg(count(lit(1)).as("n"))
        .where(col("n") > 1)
        .orderBy("prefix")
    },

    Q("mr_word_count", Some(
      """SELECT word, COUNT(*) AS cnt FROM (
        |  SELECT unnest(string_split_regex(
        |    lower(regexp_replace(text, '[^a-zA-Z ]', '', 'g')), '\s+')) AS word
        |  FROM documents)
        |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin)) { (s, dir) =>
      wordCount(docs(s, dir), "text").orderBy("word")
    },

    Q("mr_sum_squares", Some(
      """SELECT CAST(SUM(l_linenumber * l_linenumber) AS BIGINT) AS sum_sq
        |FROM lineitem""".stripMargin)) { (s, dir) =>
      li(s, dir).agg(
        sum((col("l_linenumber") * col("l_linenumber")).cast("long")).as("sum_sq"))
    },

    Q("mr_count_distinct_abs", Some(
      """SELECT COUNT(DISTINCT ABS(l_linenumber - 4)) AS n_distinct
        |FROM lineitem""".stripMargin)) { (s, dir) =>
      li(s, dir).agg(countDistinct(abs(col("l_linenumber") - 4)).as("n_distinct"))
    })
}
