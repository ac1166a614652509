package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** [[Memo]]'s key contract on tiny synthetic parquet, plus the source
  * scan that keeps it the only memo map under `src/main`. */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  private def writeTable(dir: String, rows: Seq[Long]): Unit =
    rows.toDF("id").write.mode("overwrite").parquet(s"$dir/t.parquet")

  /** Key → the (dir, table, variant) part before the fingerprint. */
  private def live(k: String): String = k.substring(0, k.indexOf('#'))

  test("variants of one table coexist, each built once") {
    withTempDir("memo_spec") { dir =>
      writeTable(dir, Seq(1L, 2L))
      val m = new Memo[String]
      var builds = 0
      assert(m(dir, "t", "a") { builds += 1; "A" } == "A")
      assert(m(dir, "t", "b") { builds += 1; "B" } == "B")
      assert(m(dir, "t", "a") { builds += 1; "A again" } == "A")
      assert(builds == 2)
      assert(m.keys.map(live) ==
        Set(s"$dir/t.parquet@a", s"$dir/t.parquet@b"))
    }
  }

  test("rewriting the table rebuilds the value and evicts the old key") {
    withTempDir("memo_spec") { dir =>
      writeTable(dir, Seq(1L, 2L))
      val m = new Memo[String]
      assert(m(dir, "t", "a")("one") == "one")
      val before = m.keys
      writeTable(dir, Seq(3L, 4L, 5L))
      assert(m(dir, "t", "a")("two") == "two")
      val after = m.keys
      assert(after.size == 1 && after.intersect(before).isEmpty,
        s"superseded key must be evicted: $before -> $after")
      assert(live(after.head) == s"$dir/t.parquet@a")
    }
  }

  test("an absent table path folds to one stable key") {
    withTempDir("memo_spec") { dir =>
      val m = new Memo[Int]
      assert(m(dir, "missing", "v")(1) == 1)
      assert(m(dir, "missing", "v")(2) == 1)
      assert(m.keys == Set(s"$dir/missing.parquet@v#absent"))
    }
  }

  test("Memo.scala holds the only memo map under src/main " +
      "(Crawl's per-root fixture writer allow-listed)") {
    val needles = Seq("ConcurrentHashMap", "computeIfAbsent")
    val walk = Files.walk(Paths.get("src/main"))
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .toList
      finally walk.close()
    val hits = sources.flatMap { p =>
      Files.readAllLines(p).asScala
        .filter(l => needles.exists(l.contains))
        .map(l => p.getFileName.toString -> l.trim)
    }
    assert(hits.exists(_._1 == "Memo.scala"))
    // Crawl.writeOnce's root → fingerprint map: one declaration line
    assert(hits.count(_._1 == "Crawl.scala") == 1, hits.mkString("\n"))
    val others = hits.filterNot(h =>
      h._1 == "Memo.scala" || h._1 == "Crawl.scala")
    assert(others.isEmpty, others.mkString("\n"))
  }
}
