package graft.mapreduce

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.Dataset

/** Golden + property tests for the product query (reference
  * README.md:26, src/main.cpp:61-97) across all three implementations.
  *
  * The golden fixture reproduces the reference's `test.txt` spec
  * (README.md:50; 69 three-digit lines 111..801 step 10, 401 absent):
  * 1-char prefixes collide, 2-char prefixes are unique ⇒ L = 2.
  */
class MinUniquePrefixSpec extends SparkSpec {

  private def ds(lines: Seq[String]): Dataset[String] = {
    import spark.implicits._
    spark.createDataset(lines)
  }

  /** The reference test.txt content, regenerated from its spec. */
  private val goldenLines: Seq[String] =
    (111 to 801 by 10).filter(_ != 401).map(_.toString)

  test("golden fixture has the documented shape") {
    assert(goldenLines.size == 69)
    assert(goldenLines.distinct.size == 69)
  }

  test("golden: iterative driver answers 2 (reference expected result)") {
    assert(MinUniquePrefix.find(ds(goldenLines), maxLen = 3) == 2)
  }

  test("golden: per-iteration results are (L=1 false, L=2 true)") {
    // find() returning 2 already implies L=1 failed; assert explicitly the
    // way the reference's out/iter<L>/result.txt records it.
    import org.apache.spark.sql.functions._
    val l1dups = ds(goldenLines).select(substring(col("value"), 1, 1).as("p"))
      .groupBy("p").count().filter(col("count") > 1)
    assert(!l1dups.isEmpty)
  }

  test("golden: one-shot variant agrees") {
    assert(MinUniquePrefix.findOneShot(ds(goldenLines), maxLen = 3) == 2)
  }

  test("golden: sorted-neighbor LCP variant agrees") {
    assert(MinUniquePrefix.minUniqueLen(ds(goldenLines), maxLen = 3) == 2)
  }

  test("golden: generic-MapReduce parity path agrees (M=3, R=2 defaults)") {
    assert(MinUniquePrefix.findViaMapReduce(spark, ds(goldenLines), 3) == 2)
  }

  test("golden: typed-Aggregator variant agrees (M4 UDAF surface)") {
    assert(MinUniquePrefix.findViaAggregator(ds(goldenLines), 3) == 2)
    assert(MinUniquePrefix.findViaAggregator(ds(Seq("abc", "abc")), 4) == -1)
  }

  test("duplicate full lines: no L works (reference quirk Q4 -> -1 here)") {
    val lines = Seq("abc", "abc", "xyz")
    assert(MinUniquePrefix.find(ds(lines), 5) == -1)
    assert(MinUniquePrefix.findOneShot(ds(lines), 5) == -1)
    assert(MinUniquePrefix.minUniqueLen(ds(lines), 5) == -1)
  }

  test("single line: L = 1") {
    assert(MinUniquePrefix.minUniqueLen(ds(Seq("hello")), 10) == 1)
    assert(MinUniquePrefix.find(ds(Seq("hello")), 10) == 1)
  }

  test("lines shorter than L: substring truncates like C++ substr (Q6)") {
    // "a" vs "ab": 1-prefixes collide ("a","a"); 2-prefixes are "a","ab".
    val lines = Seq("a", "ab")
    assert(MinUniquePrefix.find(ds(lines), 5) == 2)
    assert(MinUniquePrefix.minUniqueLen(ds(lines), 5) == 2)
  }

  /** Brute-force oracle: smallest L in [1, maxLen] with all-unique
    * L-prefixes, -1 if none. */
  private def bruteForce(lines: Seq[String], maxLen: Int): Int =
    (1 to maxLen).find { l =>
      val ps = lines.map(_.take(l))
      ps.distinct.size == ps.size
    }.getOrElse(-1)

  test("property: implementations agree with the brute-force oracle " +
      "(15 seeded random line sets)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 15) {
      val n = 1 + rnd.nextInt(40)
      val lines = List.fill(n)(rnd.nextInt(1000).toString)
      val expected = bruteForce(lines, 4)
      val d = ds(lines)
      assert(MinUniquePrefix.findOneShot(d, 4) == expected,
        s"one-shot disagrees on $lines")
      assert(MinUniquePrefix.minUniqueLen(d, 4) == expected,
        s"lcp variant disagrees on $lines")
      assert(MinUniquePrefix.find(d, 4) == expected,
        s"iterative driver disagrees on $lines")
      assert(MinUniquePrefix.findViaMapReduce(spark, d, 4) == expected,
        s"generic-MapReduce path disagrees on $lines")
      assert(MinUniquePrefix.findViaAggregator(d, 4) == expected,
        s"typed-Aggregator variant disagrees on $lines")
    }
  }

  test("find counts code points like SQL substring, not UTF-16 units") {
    // U+1F600 and U+1F601 share their high surrogate: a UTF-16 take(1)
    // collides, the 1-code-point prefixes do not
    val emoji = Seq("\uD83D\uDE00", "\uD83D\uDE01")
    assert(MinUniquePrefix.find(ds(emoji), 3) == 1)
    // a shared supplementary first code point: unique at 2 code points,
    // where a UTF-16 take(2) still collides
    val shared = Seq("\uD83D\uDE00a", "\uD83D\uDE00b", "\uE000a", "\uFFFDa")
    assert(MinUniquePrefix.find(ds(shared), 3) == 2)
    // two-byte UTF-8 code points count once
    assert(MinUniquePrefix.find(ds(Seq("\u00F1a", "\u00F1b")), 3) == 2)
    for (lines <- Seq(emoji, shared))
      assert(MinUniquePrefix.find(ds(lines), 3) ==
        MinUniquePrefix.findOneShot(ds(lines), 3), s"on $lines")
  }

  test("find: null lines share one prefix, as in a SQL groupBy") {
    val twoNulls = Seq("a", null, "b", null)
    assert(MinUniquePrefix.find(ds(twoNulls), 4) == -1)
    assert(MinUniquePrefix.findOneShot(ds(twoNulls), 4) == -1)
    val oneNull = Seq("ab", null, "ac")
    assert(MinUniquePrefix.find(ds(oneNull), 4) == 2)
    assert(MinUniquePrefix.findOneShot(ds(oneNull), 4) == 2)
  }

  test("find: a pair that collides only across a partition boundary") {
    // only b1/b2 share a 1-prefix; the sort puts them in different
    // partitions, so the collision is seen only by the driver's stitch
    val lines = Seq("a", "b1", "b2", "c", "d", "e", "f", "g")
    val runs = MinUniquePrefix.sortedRuns(ds(lines)).rdd.glom().collect()
      .filter(_.nonEmpty)
    assert(runs.length >= 2)
    assert(runs.exists(p => p.last == "b1") && runs.exists(p => p.head == "b2"),
      s"b1 and b2 must straddle a boundary: ${runs.map(_.toList).toList}")
    assert(MinUniquePrefix.find(ds(lines), 3) == 2)
  }

  test("find: empty input gives 1, maxLen = 0 gives -1") {
    assert(MinUniquePrefix.find(ds(Nil), 3) == 1)
    assert(MinUniquePrefix.find(ds(Seq("a", "b")), 0) == -1)
    assert(MinUniquePrefix.find(ds(Nil), 0) == -1)
  }

  /** Job ids of `group` that ran single-stage, and all of its job ids. */
  private def findJobs(group: String, lines: Seq[String],
      expected: Int): (Seq[Int], Seq[Int]) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, "MinUniquePrefix.find", interruptOnCancel = false)
    try assert(MinUniquePrefix.find(ds(lines), 8) == expected)
    finally sc.clearJobGroup()
    ListenerBusDrain(sc)
    val jobs = sc.statusTracker.getJobIdsForGroup(group).toSeq.sorted
    // stages that ran: a stage whose shuffle output a job reuses is
    // listed in the job but skipped, never submitted
    val ran = jobs.filter { j =>
      sc.statusTracker.getJobInfo(j).get.stageIds.toSeq
        .flatMap(sc.statusTracker.getStageInfo(_))
        .count(_.submissionTime > 0) == 1
    }
    (ran, jobs)
  }

  test("find sorts once, then launches one single-stage job per " +
      "candidate L") {
    val id = java.util.UUID.randomUUID
    // golden answers 2; "1110" makes 3-prefix "111" collide, so 4
    val (ran2, jobs2) = findJobs(s"find-l2-$id", goldenLines, 2)
    val (ran4, jobs4) = findJobs(s"find-l4-$id", goldenLines :+ "1110", 4)
    assert(jobs4.size - jobs2.size == 2, s"$jobs2 vs $jobs4")
    // the last job per tried L, each after the sort, runs one stage
    assert(jobs2.takeRight(2).forall(ran2.contains), s"$jobs2: $ran2")
    assert(jobs4.takeRight(4).forall(ran4.contains), s"$jobs4: $ran4")
  }
}
