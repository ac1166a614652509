package graft.mapreduce

import graft.SparkSpec
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** End-to-end driver parity on the golden fixture: per-iteration
  * `out/iter<L>/` layout with reducer booleans and result.txt, exactly the
  * artifacts the reference produces (FIXTURES.md §1).
  */
class MainSpec extends SparkSpec {

  private def writeFixture(dir: Path, lines: Seq[String],
      trailingNewline: Boolean): Path = {
    val f = dir.resolve("test.txt")
    val body = lines.mkString("\n") + (if (trailingNewline) "\n" else "")
    Files.writeString(f, body)
    f
  }

  private val goldenLines: Seq[String] =
    (111 to 801 by 10).filter(_ != 401).map(_.toString)

  test("golden fixture run: answer 2; iter1/result.txt=0, iter2/result.txt=1") {
    val tmp = Files.createTempDirectory("mrmain")
    val in = writeFixture(tmp, goldenLines, trailingNewline = false)
    val out = tmp.resolve("out").toString
    val result = Main.findIteratively(spark, in.toString, out,
      mappers = 3, reducers = 2, maxLen = 3, debug = true)
    assert(result == 2)
    assert(Files.readString(Path.of(out, "iter1", "result.txt")) == "0")
    assert(Files.readString(Path.of(out, "iter2", "result.txt")) == "1")
    assert(!Files.exists(Path.of(out, "iter3")), "search must stop at 2")
    // R=2 reducer files, each a boolean
    for (l <- 1 to 2) {
      val red = Files.list(Path.of(out, s"iter$l", "reducer"))
        .iterator().asScala.toSeq
      assert(red.size == 2)
      red.foreach(p => assert(Set("0", "1").contains(Files.readString(p))))
    }
    // debug mode: mapper runs exist and are sorted "key count" lines
    val mapperParts = Files.list(Path.of(out, "iter1", "mapper"))
      .iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq
    // one sorted run per map task (the 279-byte fixture splits into M=3)
    assert(mapperParts.size == 3)
    mapperParts.foreach { p =>
      val lines = Files.readAllLines(p).asScala.toList
      assert(lines == lines.sorted, s"mapper run not sorted: $p")
      lines.foreach(l => assert(l.matches("\\S+ 1"), s"bad record: $l"))
    }
  }

  test("answer is invariant under M/R parallelism choices") {
    val tmp = Files.createTempDirectory("mrmain")
    val in = writeFixture(tmp, goldenLines, trailingNewline = false)
    for ((m, r) <- Seq((1, 1), (8, 5), (2, 7))) {
      val result = Main.findIteratively(spark, in.toString,
        tmp.resolve(s"out_${m}_$r").toString, m, r, 3, debug = false)
      assert(result == 2, s"M=$m R=$r")
    }
  }

  test("trailing-newline variant gives the same answer (Q6 boundary)") {
    val tmp = Files.createTempDirectory("mrmain")
    val in = writeFixture(tmp, goldenLines, trailingNewline = true)
    val result = Main.findIteratively(spark, in.toString,
      tmp.resolve("out").toString, 3, 2, 3, debug = false)
    assert(result == 2)
  }

  test("duplicate full lines: bounded search reports maxLen+1 (Q4 contract)") {
    val tmp = Files.createTempDirectory("mrmain")
    val in = writeFixture(tmp, Seq("abc", "abc", "xyz"),
      trailingNewline = false)
    val result = Main.findIteratively(spark, in.toString,
      tmp.resolve("out").toString, 3, 2, 3, debug = false)
    assert(result == 4)
    // every iteration ran and failed
    for (l <- 1 to 3)
      assert(Files.readString(
        tmp.resolve("out").resolve(s"iter$l").resolve("result.txt")) == "0")
  }

  test("empty input file: L = 1 with one empty reduce partition, " +
      "like MinUniquePrefix.find") {
    val tmp = Files.createTempDirectory("mrmain")
    val in = writeFixture(tmp, Nil, trailingNewline = false)
    val out = tmp.resolve("out")
    val result = Main.findIteratively(spark, in.toString, out.toString,
      3, 2, 3, debug = true)
    assert(result == 1)
    assert(result == MinUniquePrefix.find(spark.read.textFile(in.toString), 3))
    assert(Files.readString(out.resolve("iter1").resolve("result.txt")) == "1")
    val red = Files.list(out.resolve("iter1").resolve("reducer"))
      .iterator().asScala.toSeq
    assert(red.map(p => Files.readString(p)) == Seq("1"))
  }
}
