package graft.mapreduce

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import scala.reflect.{ClassTag, classTag}

/** The generic MapReduce API (parity with `otus::PrefixFindRunner`,
  * reference src/mapreduce.hpp:21-81) must express all lecture tasks
  * (reference description/homework/mapreduce.h:9-10) and uphold the
  * shuffle guarantees spec'd at description/homework/mapreduce.h:39-46.
  */
class MapReduceJobSpec extends SparkSpec {
  import spark.implicits._

  test("word count via MapReduce matches the declarative plan") {
    val lines = Seq("the Cat and the Hat", "the cat! sat.", "and AND And")
    val viaMrDs = Lecture.wordCountViaMapReduce(spark,
      spark.createDataset(lines), mappers = 3, reducers = 2)
    // result is a distributed Dataset (no driver-side vocabulary merge);
    // collect here is test-scale only
    val viaMr = viaMrDs.collect().toMap
    // one count per word — the streaming adjacent-merge must not emit a
    // key twice (each key lives in exactly one sorted partition)
    assert(viaMrDs.collect().length == viaMr.size)
    val viaDf = Lecture.wordCount(
        spark.createDataset(lines).toDF("text"), "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaMr == viaDf)
    // "the" x3; "and" once in line 1 + all three tokens of line 3 = 4
    assert(viaMr("the") == 3L && viaMr("and") == 4L && viaMr("cat") == 2L)
  }

  test("sum of squares (lecture L1: MapReduce.cpp:19-36 literals)") {
    // The lecture demo uses v = {1,2,3,4,5} => 55.
    assert(Lecture.sumOfSquares(spark.createDataset(Seq(1, 2, 3, 4, 5))) == 55L)
  }

  test("count distinct by absolute value (lecture L2: MapReduce.cpp:43-68)") {
    // Lecture demo: {1,-2,3,-3,2} => |x| in {1,2,3} => 3 distinct.
    assert(Lecture.countDistinctAbs(
      spark.createDataset(Seq(1, -2, 3, -3, 2))) == 3L)
  }

  test("all lecture tasks run through the generic API (mapreduce.h:9-10)") {
    val nums = Seq(1, -2, 3, -3, 2, 5, -5, 7)
    val lines = spark.createDataset(nums.map(_.toString))
    assert(Lecture.sumOfSquaresViaMapReduce(spark, lines) ==
      nums.map(x => x.toLong * x).sum)
    assert(Lecture.countDistinctAbsViaMapReduce(spark, lines) ==
      nums.map(math.abs).distinct.size.toLong)
  }

  test("boolAnd job ANDs per-partition reducer results (runner.cpp:73-78)") {
    // Reducer checks all keys in its partition are unique.
    def uniqueJob = MapReduceJob.boolAnd[String](3, 2) { line =>
      List((line, 1))
    } { it =>
      var prev: String = null; var ok = true
      for ((k, _) <- it) { if (k == prev) ok = false; prev = k }
      ok
    }
    assert(uniqueJob.run(spark.createDataset(Seq("a", "b", "c"))))
    assert(!uniqueJob.run(spark.createDataset(Seq("a", "b", "a"))))
  }

  test("shuffle guarantees: equal keys co-located, partitions key-sorted " +
      "(spec mapreduce.h:39-46)") {
    // Reducer captures its whole partition; merge concatenates. Then check
    // the invariants over the per-partition key lists.
    val job = new MapReduceJob[String, Int, List[List[String]]](
      mappers = 4, reducers = 3,
      mapper = line => List((line, 1)),
      reducer = it => List(it.map(_._1).toList),
      merge = _ ++ _)(
      Ordering.String, ClassTag(classOf[String]), ClassTag.Int,
      classTag[List[List[String]]])
    val keys = (1 to 200).map(i => s"k${i % 37}")
    val parts = job.run(spark.createDataset(keys)).filter(_.nonEmpty)
    // each partition ascending
    parts.foreach(p => assert(p == p.sorted, s"partition not sorted: $p"))
    // equal keys in exactly one partition
    val owners = parts.zipWithIndex.flatMap { case (p, i) =>
      p.distinct.map(_ -> i)
    }
    assert(owners.groupBy(_._1).values.forall(_.map(_._2).distinct.size == 1),
      "a key appeared in more than one reduce partition")
    // nothing lost
    assert(parts.flatten.sorted == keys.sorted.toList)
  }

  /** Each reduce partition's keys, in partition order. */
  private def keysPerPartition(mappers: Int, reducers: Int,
      keys: Seq[String]): List[List[String]] =
    new MapReduceJob[String, Int, List[List[String]]](mappers, reducers,
      mapper = line => List((line, 1)),
      reducer = it => List(it.map(_._1).toList),
      merge = _ ++ _).run(spark.createDataset(keys))

  test("range partitions are contiguous in Ordering[String], " +
      "surrogate-pair and U+E000+ keys included") {
    // String.compareTo is UTF-16 code-unit order: surrogate pairs
    // (U+D800-DFFF units) sort below U+E000-FFFF, unlike UTF-8 byte order.
    val keys = (0 until 240).map { i =>
      Seq("k", "\uE000", "\uFFFD", "\uD83D\uDE00", "\uD835\uDD38")(i % 5) +
        (i % 48)
    }
    val parts = keysPerPartition(4, 4, keys).filter(_.nonEmpty)
    assert(parts.size > 1)
    parts.foreach(p => assert(p == p.sorted, s"partition not sorted: $p"))
    parts.sliding(2).foreach { case Seq(a, b) =>
      assert(a.max < b.min, s"ranges overlap: ${a.max} >= ${b.min}")
    }
    assert(parts.flatten == keys.sorted)
  }

  test("one run round launches exactly 2 Spark jobs " +
      "(range sample, then shuffle + reduce)") {
    val sc = spark.sparkContext
    val group = s"mrjob-round-${java.util.UUID.randomUUID}"
    val keys = (1 to 400).map(i => s"k${i % 97}")
    sc.setJobGroup(group, "one MapReduceJob round", interruptOnCancel = false)
    val parts =
      try keysPerPartition(4, 3, keys)
      finally sc.clearJobGroup()
    assert(parts.flatten.size == 400)
    ListenerBusDrain(sc)
    assert(sc.statusTracker.getJobIdsForGroup(group).length == 2)
  }

  test("empty input: one empty reduce partition, result is reducer(empty)") {
    val empty = spark.emptyDataset[String]
    // 1 per reduce partition: exactly one partition, and it is empty
    val partitions = new MapReduceJob[String, Int, Int](3, 2,
      mapper = line => List((line, 1)),
      reducer = it => 1 + it.size,
      merge = _ + _).run(empty)
    assert(partitions == 1)
    assert(Lecture.sumOfSquaresViaMapReduce(spark, empty) == 0L)
    assert(Lecture.countDistinctAbsViaMapReduce(spark, empty) == 0L)
    assert(Lecture.wordCountViaMapReduce(spark, empty).count() == 0L)
    assert(MinUniquePrefix.findViaMapReduce(spark, empty, 3) == 1)
  }
}
