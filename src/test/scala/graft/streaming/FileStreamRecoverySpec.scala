package graft.streaming

import java.nio.file.{Files, Path}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** File-based Structured Streaming with checkpoint recovery — the
  * operational contract a production ingest pipeline actually depends
  * on: a `readStream` over an arriving-files directory, a stateless
  * transform, a parquet sink with a checkpoint, and a HARD STOP +
  * RESTART in the middle of the feed. Exactly-once across the restart
  * is the assertion: every input row appears in the sink exactly once —
  * no loss (files that arrived while the query was down are picked up
  * from the checkpointed file log) and no duplicates (the sink commit
  * log wins over re-processing). This is the recovery semantics nothing
  * in the MemoryStream suites can exercise, because MemoryStream state
  * dies with the query.
  */
class FileStreamRecoverySpec extends SparkSpec {

  private def writeBatch(dir: Path, name: String, ids: Range): Unit = {
    import spark.implicits._
    // one file per batch, written atomically via temp-dir rename-free
    // parquet write into a fresh subpath the source hasn't listed yet
    ids.map(i => (i.toLong, s"row_$i")).toDF("id", "payload")
      .coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve(name).toString)
  }

  test("file source + parquet sink + checkpoint: exactly-once across a " +
      "hard query restart (no loss of files arriving while down, no " +
      "reprocessing duplicates)") {
    withTempDir("graft_stream_recovery") { d =>
      val root = Path.of(d)
      val in = Files.createDirectory(root.resolve("in"))
      val out = root.resolve("out").toString
      val ckpt = root.resolve("ckpt").toString
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("payload", StringType)))

      def startQuery() = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(in.toString)
        .withColumn("tagged", concat(col("payload"), lit("!")))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()

      writeBatch(in, "b0", 0 until 100)
      val q1 = startQuery()
      try q1.processAllAvailable() finally q1.stop()

      // files arrive WHILE THE QUERY IS DOWN
      writeBatch(in, "b1", 100 until 180)

      val q2 = startQuery()
      try {
        q2.processAllAvailable()
        writeBatch(in, "b2", 180 until 200)
        q2.processAllAvailable()
      } finally q2.stop()

      val rows = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getString(r.fieldIndex("tagged"))))
      // exactly-once: every id 0..199 exactly once, transform applied
      assert(rows.length == 200,
        s"expected 200 rows exactly-once, got ${rows.length}")
      assert(rows.map(_._1).sorted.toSeq == (0L until 200L),
        "lost or duplicated ids across the restart")
      assert(rows.forall { case (i, t) => t == s"row_$i!" })
    }
  }

  test("incrementalSubstrStreamDurable: a span first seen BEFORE a " +
      "hard restart still cleans its post-restart copy (the persisted " +
      "index closes the in-memory form's documented restart gap)") {
    import spark.implicits._
    def toks(prefix: String, n: Int): String =
      (1 to n).map(i => s"$prefix$i").mkString(" ")
    val spanS = toks("s", 50)              // lives in the OLD corpus
    val spanT = toks("t", 50)              // first occurs pre-restart
    withTempDir("graft_substr_durable") { d =>
      val root = Path.of(d)
      val in = Files.createDirectory(root.resolve("in"))
      val idxDir = root.resolve("idx").toString
      val ckpt = root.resolve("ckpt").toString
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))
      val old = Seq((0L, s"${toks("a", 10)} $spanS")).toDF("doc_id", "text")
      val oldIdx = graft.operators.Dedup.substrWindowDigests(old)
      def writeDocs(name: String, docs: Seq[(Long, String)]): Unit =
        docs.toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(in.resolve(name).toString)
      val got = scala.collection.mutable.Map.empty[Long, Seq[Seq[Any]]]
      def startQ() = StreamOps.incrementalSubstrStreamDurable(
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "*.parquet")
          .option("recursiveFileLookup", "true")
          .parquet(in.toString),
        idxDir, oldIdx, ckpt) { (batch, id) =>
        got(id) = batch.collect().map(_.toSeq).toSeq // replay: last wins
      }
      writeDocs("b0", Seq(
        (300L, s"$spanS ${toks("b", 10)}"),  // old-index span: removed
        (301L, spanT)))                      // T's first occurrence: kept
      val q1 = startQ()
      try q1.processAllAvailable() finally q1.stop()
      // HARD RESTART; the copy of T arrives only after the stop
      writeDocs("b1", Seq(
        (302L, s"$spanT ${toks("d", 5)}"),   // must be cleaned via the
                                             // PERSISTED index
        (303L, toks("e", 55))))
      val q2 = startQ()
      try q2.processAllAvailable() finally q2.stop()
      val rows = got.values.flatten.toSeq
        .map(r => r.head.asInstanceOf[Long] -> r).toMap
      val expect = graft.operators.Dedup.exactSubstrIncremental(
          Seq((300L, s"$spanS ${toks("b", 10)}"), (301L, spanT),
            (302L, s"$spanT ${toks("d", 5)}"), (303L, toks("e", 55)))
            .toDF("doc_id", "text"), old)
        .collect().map(r => r.getLong(0) -> r.toSeq).toMap
      assert(rows == expect, s"stream=$rows batch=$expect")
      assert(rows(302L)(2) == 50L,
        "the pre-restart span must clean its post-restart copy — the " +
          "exact failure mode the in-memory form documents")
    }
  }

  test("incrementalImageDedupStreamDurable: a signature first seen " +
      "BEFORE a hard restart still dedups its post-restart near-copy " +
      "(the persisted index closes the in-memory form's restart gap)") {
    import spark.implicits._
    withTempDir("graft_imgdedup_durable") { d =>
      val root = Path.of(d)
      val in = Files.createDirectory(root.resolve("in"))
      val idxDir = root.resolve("idx").toString
      val ckpt = root.resolve("ckpt").toString
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("lo", LongType), StructField("hi", LongType)))
      val old = Seq((0L, 0x1234L, 0x00f0L)).toDF("doc_id", "lo", "hi")
      def writeSigs(name: String, sigs: Seq[(Long, Long, Long)]): Unit =
        sigs.toDF("doc_id", "lo", "hi").coalesce(1)
          .write.mode("overwrite").parquet(in.resolve(name).toString)
      val got = scala.collection.mutable.Map.empty[Long, Seq[(Long, Long, Int)]]
      def startQ() = StreamOps.incrementalImageDedupStreamDurable(
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "*.parquet")
          .option("recursiveFileLookup", "true")
          .parquet(in.toString),
        idxDir, old, ckpt) { (batch, id) =>
        got(id) = batch.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      }
      val b0 = Seq(
        (300L, 0x4444L, 0x4444L),   // novel: survives, enters the index
        (301L, 0x00ffL, 0xff00L))   // novel
      val b1 = Seq(
        (302L, 0x4444L, 0x4445L),   // hamming 1 from PRE-restart doc 300:
                                    // must drop via the PERSISTED index
        (303L, 0x1234L, 0x00f1L))   // hamming 1 from ORIGINAL index doc 0
      writeSigs("b0", b0)
      val q1 = startQ()
      try q1.processAllAvailable() finally q1.stop()
      // HARD RESTART; the near-copies arrive only after the stop
      writeSigs("b1", b1)
      val q2 = startQ()
      try q2.processAllAvailable() finally q2.stop()
      val rows = got.values.flatten.map(t => t._1 -> t).toMap
      val newIds = (b0 ++ b1).map(_._1).toSet
      val expect = graft.operators.Multimodal
        .hammingDedupSurvivors(
          (Seq((0L, 0x1234L, 0x00f0L)) ++ b0 ++ b1)
            .toDF("doc_id", "lo", "hi"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .filter(t => newIds.contains(t._1)).map(t => t._1 -> t).toMap
      assert(rows == expect, s"stream=$rows batch=$expect")
      assert(rows(302L) == (302L, 300L, 1),
        "the pre-restart signature must dedup its post-restart copy — " +
          "the exact failure mode the in-memory form documents")
      assert(rows(303L) == (303L, 0L, 1),
        "the original index must survive the restart too")
    }
  }

  test("incrementalUrlDedupStreamDurable: a URL spelling first seen " +
      "BEFORE a hard restart still drops its post-restart respelling " +
      "(the persisted seen-set survives the stop)") {
    import spark.implicits._
    withTempDir("graft_urlseen_durable") { d =>
      val root = Path.of(d)
      val in = Files.createDirectory(root.resolve("in"))
      val idxDir = root.resolve("idx").toString
      val ckpt = root.resolve("ckpt").toString
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("url", StringType), StructField("html", StringType)))
      def writeRecs(name: String,
          recs: Seq[(Long, String, String)]): Unit =
        recs.toDF("doc_id", "url", "html").coalesce(1)
          .write.mode("overwrite").parquet(in.resolve(name).toString)
      val got = scala.collection.mutable.Map.empty[Long, Set[Long]]
      def startQ() = StreamOps.incrementalUrlDedupStreamDurable(
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "*.parquet")
          .option("recursiveFileLookup", "true")
          .parquet(in.toString),
        idxDir,
        Seq.empty[String].toDF("canon_url"), ckpt) { (batch, id) =>
        got(id) = batch.select("doc_id").as[Long].collect().toSet
      }
      writeRecs("b0", Seq(
        (10L, "https://a.example.org/page", "<p>the page</p>")))
      val q1 = startQ()
      try q1.processAllAvailable() finally q1.stop()
      // HARD RESTART; the respelling arrives only after the stop
      writeRecs("b1", Seq(
        (20L, "HTTPS://A.EXAMPLE.ORG:443/page#top", "<p>same page</p>"),
        (21L, "https://a.example.org/other", "<p>fresh page</p>")))
      val q2 = startQ()
      try q2.processAllAvailable() finally q2.stop()
      assert(got(0L) == Set(10L))
      assert(got(1L) == Set(21L),
        "the pre-restart URL must drop its post-restart respelling via " +
          s"the PERSISTED seen-set: ${got(1L)}")
    }
  }

  test("incrementalUrlDedupStreamVersioned: HARD STOP + restart — a " +
      "retraction committed BEFORE the stop makes the post-restart " +
      "recrawl FIRST SIGHT, while a non-retracted pre-restart URL " +
      "still drops its respelling (tombstones survive the restart)") {
    import spark.implicits._
    withTempDir("graft_urlvers_recover") { d =>
      val root = Path.of(d)
      val in = Files.createDirectory(root.resolve("in"))
      val idxDir = root.resolve("idx").toString
      val ckpt = root.resolve("ckpt").toString
      val schema = StructType(Seq(StructField("op", StringType),
        StructField("doc_id", LongType), StructField("url", StringType),
        StructField("html", StringType)))
      def writeRecs(name: String,
          recs: Seq[(String, Long, String, String)]): Unit =
        recs.toDF("op", "doc_id", "url", "html").coalesce(1)
          .write.mode("overwrite").parquet(in.resolve(name).toString)
      val got = scala.collection.mutable.Map.empty[Long, Set[Long]]
      def startQ() = StreamOps.incrementalUrlDedupStreamVersioned(
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "*.parquet")
          .option("recursiveFileLookup", "true")
          .parquet(in.toString),
        idxDir,
        Seq.empty[String].toDF("canon_url"), ckpt) { (batch, id) =>
        got(id) = batch.select("doc_id").as[Long].collect().toSet
      }
      writeRecs("b0", Seq(
        ("crawl", 10L, "https://a.example.org/p", "<p>p</p>"),
        ("crawl", 11L, "https://a.example.org/q", "<p>q</p>")))
      val q1 = startQ()
      try q1.processAllAvailable() finally q1.stop()
      writeRecs("b1", Seq(("retract", 0L, "https://a.example.org/p", "")))
      val q2 = startQ()
      try q2.processAllAvailable() finally q2.stop()
      // HARD RESTART; recrawl + respelling arrive only after the stop
      writeRecs("b2", Seq(
        ("crawl", 30L, "https://a.example.org/p", "<p>p v2</p>"),
        ("crawl", 40L, "HTTPS://A.EXAMPLE.ORG:443/q", "<p>same q</p>"),
        ("crawl", 41L, "https://a.example.org/r", "<p>fresh</p>")))
      val q3 = startQ()
      try q3.processAllAvailable() finally q3.stop()
      assert(got(0L) == Set(10L, 11L))
      assert(got(1L) == Set.empty[Long])
      assert(got(2L) == Set(30L, 41L),
        "the pre-restart retraction must make the recrawl first sight " +
          "via the PERSISTED tombstone, while the live URL still drops " +
          s"its respelling: ${got(2L)}")
    }
  }

  test("crawlPrepareStream: HARD STOP + restart — ALL THREE durable " +
      "indexes (URL seen-set, MinHash signatures, substr digests) and " +
      "the source offsets survive: a post-restart respelling of a " +
      "pre-restart URL emits nothing, a post-restart near-copy of a " +
      "pre-restart page drops via the persisted signature index, and " +
      "a post-restart copy of a pre-restart span is cleaned") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, size, split}
    withTempDir("graft_cprep_recover") { d =>
      val root = Path.of(d)
      val in = Files.createDirectory(root.resolve("in"))
      val uidx = root.resolve("uidx").toString
      val gidx = root.resolve("gidx").toString
      val sidx = root.resolve("sidx").toString
      val ckpt = root.resolve("ckpt").toString
      val labeled = (0L until 20L).map { i =>
        val lang = if (i % 2 == 0) "aa" else "bb"
        val t = if (lang == "aa") "red green blue red green blue"
          else "eins zwei drei eins zwei drei"
        (i, lang, t)
      }.toDF("doc_id", "lang", "text")
      val evalDocs = Seq(
        (9000L, ('a' to 'j').map(c => s"qq$c$c").mkString(" ")))
        .toDF("doc_id", "text")
      val policy = graft.operators.Crawl.defaultPolicy(spark)
      val gate: DataFrame => DataFrame =
        d => d.where(size(split(col("text"), "\\s+")) >= 25)
      def aa(n: Int) = Seq.fill(n / 3 + 1)("red green blue")
        .mkString(" ").split(" ").take(n).mkString(" ")
      val spanS = (0 until 50).map(i =>
        s"sp${('a' + i / 26).toChar}${('a' + i % 26).toChar}").mkString(" ")
      // pure-alpha unique tokens (digit-bearing words vanish at the
      // extraction's content-line rule)
      def uniq(p: String, n: Int) = (0 until n).map(i =>
        s"$p${('a' + i / 26).toChar}${('a' + i % 26).toChar}").mkString(" ")
      def page(id: Long, url: String, body: String) =
        (id, url, graft.operators.Crawl.wrapHtml(id, body))
      val got = scala.collection.mutable.Map
        .empty[Long, Set[(Long, Long)]]
      def startQ() = StreamOps.crawlPrepareStream(spark, in.toString,
        labeled, gate, policy, evalDocs, uidx, gidx, sidx,
        Seq.empty[String].toDF("canon_url"),
        Seq.empty[(Long, Array[Long])].toDF("doc_id", "sig"),
        Seq.empty[String].toDF("h"), ckpt) { (batch, id) =>
        got(id) = batch.select("doc_id", "n_removed").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      java.nio.file.Files.write(in.resolve("part0.garc"),
        graft.operators.Crawl.encodeArchive(Seq(
          page(10L, "https://a.example.org/p", s"${aa(30)} $spanS"))))
      val q1 = startQ()
      try q1.processAllAvailable() finally q1.stop()
      // HARD RESTART; the respelling, the near-copy AND the span copy
      // all arrive after the stop
      java.nio.file.Files.write(in.resolve("part1.garc"),
        graft.operators.Crawl.encodeArchive(Seq(
          page(20L, "HTTPS://A.EXAMPLE.ORG:443/p#top", s"${aa(30)} $spanS"),
          // unique filler keeps 21 under the near-dup threshold while
          // carrying the exact pre-restart span for the substr index
          page(21L, "https://a.example.org/q",
            s"${aa(6)} ${uniq("u", 148)} $spanS"),
          // identical body, fresh URL: must drop via the PERSISTED
          // MinHash signature index, never reaching the substr stage
          page(22L, "https://a.example.org/r", s"${aa(30)} $spanS"))))
      val q2 = startQ()
      try q2.processAllAvailable() finally q2.stop()
      assert(got(0L).map(_._1) == Set(10L) && got(0L).head._2 == 0L,
        s"batch 0 keeps the first crawl uncleaned: ${got(0L)}")
      assert(got(1L).map(_._1) == Set(21L),
        "the pre-restart URL must drop its post-restart respelling via " +
          "the PERSISTED seen-set, and the near-copy must drop via the " +
          s"PERSISTED signature index: ${got(1L)}")
      assert(got(1L).head._2 >= 50L,
        "the pre-restart span must clean its post-restart copy via the " +
          s"PERSISTED substr index: ${got(1L)}")
      // all three stages own committed per-batch deltas (the near-dup
      // state is the three-chain layout: sigs + the persisted banding
      // + the max-id ordering witness — r16)
      for (d <- Seq(uidx, s"$gidx/sigs", s"$gidx/bands", s"$gidx/maxid",
          sidx)) {
        val names = Option(new java.io.File(d).listFiles())
          .getOrElse(Array.empty[java.io.File]).map(_.getName).toSet
        assert(names.contains("delta_0") && names.contains("delta_1"),
          s"$d: $names")
      }
    }
  }

  test("crawlTriangleStream: HARD STOP + restart — the seen-set and the " +
      "source offsets both survive, a post-restart respelling of a " +
      "pre-restart URL writes NO WET record, and the directory holds " +
      "exactly one shard set (exactly-once end to end)") {
    import spark.implicits._
    withTempDir("graft_triangle_recover") { d =>
      val root = Path.of(d)
      val in = Files.createDirectory(root.resolve("in"))
      val idx = root.resolve("idx").toString
      val wet = root.resolve("wet").toString
      val ckpt = root.resolve("ckpt").toString
      def words(p: String) = (1 to 15).map(i => s"$p$i").mkString(" ")
      def page(id: Long, url: String, seed: String) =
        (id, url, graft.operators.Crawl.wrapHtml(id, seed))
      def startQ() = StreamOps.crawlTriangleStream(spark, in.toString,
        idx, Seq.empty[String].toDF("canon_url"), wet, ckpt)
      java.nio.file.Files.write(in.resolve("part0.garc"),
        graft.operators.Crawl.encodeArchive(Seq(
          page(10L, "https://a.example.org/p", words("pp")),
          page(11L, "https://a.example.org/q", words("qq")))))
      val q1 = startQ()
      try q1.processAllAvailable() finally q1.stop()
      // HARD RESTART; the respelling arrives only after the stop
      java.nio.file.Files.write(in.resolve("part1.garc"),
        graft.operators.Crawl.encodeArchive(Seq(
          page(20L, "HTTPS://A.EXAMPLE.ORG:443/p#top", words("pp")),
          page(21L, "https://a.example.org/r", words("rr")))))
      val q2 = startQ()
      try q2.processAllAvailable() finally q2.stop()
      val back = graft.operators.Crawl
        .parseWetSegments(spark, s"$wet/*.warc.gz")
        .as[(String, String)].collect().toSeq
      assert(back.map(_._1).sorted == Seq(
        "https://a.example.org/p", "https://a.example.org/q",
        "https://a.example.org/r"),
        s"exactly one WET record per canonical page across the restart " +
          s"(the respelling of /p must write nothing): ${back.map(_._1)}")
      assert(back.size == back.map(_._1).toSet.size,
        "no duplicate shard content after restart — exactly-once")
      // both batches own committed seen-set states
      val names = Option(new java.io.File(idx).listFiles())
        .getOrElse(Array.empty[java.io.File]).map(_.getName).toSet
      assert(names.contains("delta_0") && names.contains("delta_1"), s"$names")
    }
  }
}
