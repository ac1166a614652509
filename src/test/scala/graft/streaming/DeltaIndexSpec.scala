package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The batch-DELTA durable-index layout's scale contracts:
  *
  *   - WRITE (r15): bytes written per micro-batch scale with the
  *     BATCH, not the accumulated index;
  *   - FOLD (r16, tiered): the recurring compaction is a WINDOW fold
  *     (`mid_` = compactEvery deltas — never the index), the O(index)
  *     base fold is compactEvery× rarer, and reap keeps disk O(index);
  *   - READ (r16, bucketed): a probe that knows its batch's keys
  *     reads a strict SUBSET of bucket subdirs — scanned files prune
  *     with the batch, never the corpus history.
  */
class DeltaIndexSpec extends SparkSpec {
  import spark.implicits._
  import StreamOpsSpecHelpers.{committedDirs, parquetBytes}

  private def recs(batch: Int, n: Int): Seq[(Long, String, String)] =
    (0 until n).map { j =>
      val id = batch * 10000L + j
      (id, s"https://h$batch.example.org/p$j", s"<p>page $id</p>")
    }

  test("durable URL dedup under the tiered delta layout: every batch " +
      "writes an O(batch) delta, the compactEvery cadence produces " +
      "WINDOW folds (mid = its delta window, never the accumulated " +
      "index), the compactEvery-th mid escalates to the one O(index) " +
      "base fold, window-reap removes exactly the folded deltas, and " +
      "the accumulated view equals the full seen-set") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_deltaidx") { d =>
      val root = java.nio.file.Path.of(d)
      val idxDir = root.resolve("idx").toString
      val ckpt = root.resolve("ckpt").toString
      // large enough that parquet data dominates per-file overhead (the
      // byte assertion below compares real payload, not file headers)
      val perBatch = 4000
      val src = MemoryStream[(Long, String, String)]
      val got = scala.collection.mutable.Map.empty[Long, Long]
      val query = StreamOps.incrementalUrlDedupStreamDurable(
        src.toDF().toDF("doc_id", "url", "html"),
        idxDir, Seq("https://seed.example.org/s").toDF("canon_url"),
        ckpt, compactEvery = 3) { (batch, id) => got(id) = batch.count() }
      try {
        for (b <- 0 until 9) {
          src.addData(recs(b, perBatch): _*)
          query.processAllAvailable()
        }
      } finally query.stop()
      // every batch's keepers were all fresh — the sink saw each once
      assert((0L until 9L).forall(got(_) == perBatch.toLong), s"$got")
      val deltas = committedDirs(idxDir, "delta_")
      val mids = committedDirs(idxDir, "mid_")
      val bases = committedDirs(idxDir, "base_")
      // window folds on the compactEvery cadence; the 3rd fold (batch
      // 8, finding 2 committed mids) escalates to the base fold
      assert(mids.keySet == Set(2L, 5L), s"mids: ${mids.keySet}")
      // base_-1 is the SEED (r17: initial state commits at stream
      // construction); base_8 is the cadence escalation
      assert(bases.keySet == Set(-1L, 8L), s"bases: ${bases.keySet}")
      // mid_5's reap removed exactly the deltas folded into the
      // PREVIOUS mid (0,1,2); the replay window {3..8} survives
      assert(deltas.keySet == Set(3L, 4L, 5L, 6L, 7L, 8L),
        s"deltas after window reap: ${deltas.keySet}")
      // THE write-scale pin: the last delta holds one batch's keys
      val lastDeltaRows = spark.read
        .parquet(deltas(8L).getAbsolutePath).count()
      assert(lastDeltaRows == perBatch.toLong,
        s"delta_8 must hold batch 8's fresh keys only: $lastDeltaRows")
      // THE fold-scale pin (r16): the recurring fold is its WINDOW —
      // compactEvery × batch rows — while the accumulated index at
      // that point held seed + 6 batches; the hot micro-batch never
      // pays an O(index) fold on the mid cadence
      val midRows = spark.read.parquet(mids(5L).getAbsolutePath).count()
      assert(midRows == 3L * perBatch,
        s"mid_5 must fold exactly its 3-delta window: $midRows")
      val baseRows = spark.read.parquet(bases(8L).getAbsolutePath).count()
      assert(baseRows == 9L * perBatch + 1,
        s"base_8 must hold seed + all nine batches: $baseRows")
      assert(parquetBytes(deltas(8L)) < parquetBytes(bases(8L)) / 2,
        s"bytes written per batch must scale with the batch, not the " +
          s"index: delta=${parquetBytes(deltas(8L))} " +
          s"base=${parquetBytes(bases(8L))}")
      // the consumer-facing accumulated view = base ∪ chain, distinct
      val seen = StreamOps.readIndexState(idxDir,
        Seq.empty[String].toDF("canon_url"), spark)
      assert(seen.distinct().count() == 9L * perBatch + 1)
    }
  }

  test("tiered compaction, direct drive: mids fold only their delta " +
      "window, the base fold reaps everything below the PREVIOUS " +
      "base, and the accumulated multiset stays exactly the union of " +
      "all committed keys") {
    withTempDir("graft_deltatier") { root =>
      val dir = s"$root/idx"
      val bkt = Bucketing(8, Seq("k"))
      def empty = Seq.empty[String].toDF("k")
      for (b <- 0 to 7)
        DeltaIndex.commit(Seq(s"key$b").toDF("k"), dir, b.toLong,
          empty, Some(bkt), compactEvery = 2)
      // cadence: mid_1 {0,1}; base_3 (mid count hits 2); mid_5 {4,5};
      // base_7 — whose reap removes everything below base_3
      assert(committedDirs(dir, "mid_").keySet == Set(5L))
      assert(committedDirs(dir, "base_").keySet == Set(3L, 7L))
      assert(committedDirs(dir, "delta_").keySet == Set(3L, 4L, 5L, 6L, 7L),
        "base_7's reap must remove delta_0..2 and mid_1 (below base_3)")
      val all = DeltaIndex.readAll(dir, empty, spark)
        .as[String].collect().toSet
      assert(all == (0 to 7).map(b => s"key$b").toSet)
    }
  }

  test("BUCKET PRUNING (r16, the read-side scale pin): a probe reads " +
      "a strict subset of the index's bucket subdirs — exactly the " +
      "buckets its own keys hash to — and the pruned state is " +
      "join-equivalent to the full state on those keys") {
    withTempDir("graft_deltaprune") { root =>
      val dir = s"$root/idx"
      val bkt = Bucketing(8, Seq("k"))
      def empty = Seq.empty[String].toDF("k")
      // three committed batches × 64 keys — every bucket populated whp
      for (b <- 0 until 3)
        DeltaIndex.commit(
          (0 until 64).map(j => s"key_${b}_$j").toDF("k"), dir,
          b.toLong, empty, Some(bkt), compactEvery = 16)
      val probe = Seq("key_1_7", "key_2_40", "nope").toDF("k")
      val buckets = bkt.bucketsOf(probe)
      assert(buckets.size <= 3 && buckets.nonEmpty)
      val pruned = DeltaIndex.readPruned(dir, Long.MaxValue, empty,
        bkt, buckets, spark)
      val full = DeltaIndex.readAll(dir, empty, spark)
      // join-equivalence: every index row a probe key can match is in
      // the pruned state (here: the two real keys; "nope" matches none)
      assert(pruned.join(probe, Seq("k"), "left_semi")
        .as[String].collect().toSet == Set("key_1_7", "key_2_40"))
      // the pruned state is exactly the full state's wanted-bucket slice
      assert(pruned.as[String].collect().sorted.toSeq ==
        full.where(bkt.expr.isin(buckets.map(Int.box): _*))
          .as[String].collect().sorted.toSeq)
      // THE scanned-files pin: a strict subset, all in wanted buckets
      val prunedFiles = pruned.inputFiles.toSet
      val fullFiles = full.inputFiles.toSet
      assert(prunedFiles.subsetOf(fullFiles))
      assert(prunedFiles.size < fullFiles.size,
        s"pruning must skip files: ${prunedFiles.size} vs " +
          s"${fullFiles.size}")
      assert(prunedFiles.forall(f =>
        buckets.exists(k => f.contains(s"__bucket=$k"))),
        s"every scanned file must live in a wanted bucket: $prunedFiles")
      // the bucket count is part of the layout: a mismatched caller
      // fails loudly instead of silently reading the wrong subdirs
      val err = intercept[IllegalArgumentException] {
        DeltaIndex.readPruned(dir, Long.MaxValue, empty,
          Bucketing(4, Seq("k")), Seq(0), spark)
      }
      assert(err.getMessage.contains("bucket-count mismatch"))
      // empty probes and empty deltas are fine
      DeltaIndex.commit(empty, dir, 3L, empty, Some(bkt),
        compactEvery = 16)
      assert(DeltaIndex.readPruned(dir, Long.MaxValue, empty, bkt,
        Seq.empty, spark).count() == 0L)
    }
  }

  test("OUT-OF-BAND compaction, direct drive (r17): inlineBase=false " +
      "never escalates to a base (the cadence degrades to mids), " +
      "compactBase folds base ∪ mids at the newest mid watermark, " +
      "reaps below the previous base, and returns None when nothing " +
      "has accumulated") {
    withTempDir("graft_deltaoob") { root =>
      val dir = s"$root/idx"
      val bkt = Bucketing(8, Seq("k"))
      def empty = Seq.empty[String].toDF("k")
      for (b <- 0 to 7)
        DeltaIndex.commit(Seq(s"key$b").toDF("k"), dir, b.toLong,
          empty, Some(bkt), compactEvery = 2, inlineBase = false)
      // inline would have escalated at batch 3 (second mid); with the
      // fold capped at the window, mids just accumulate
      assert(committedDirs(dir, "base_").isEmpty,
        s"no batch may fold a base inline: " +
          s"${committedDirs(dir, "base_").keySet}")
      assert(committedDirs(dir, "mid_").keySet == Set(1L, 3L, 5L, 7L))
      // the out-of-band fold lands at the newest mid watermark
      assert(DeltaIndex.compactBase(dir, empty, Some(bkt), spark)
        .contains(7L))
      assert(DeltaIndex.readAll(dir, empty, spark)
        .as[String].collect().toSet == (0 to 7).map(b => s"key$b").toSet)
      // idempotent no-op when no mid accumulated above the new base
      assert(DeltaIndex.compactBase(dir, empty, Some(bkt), spark).isEmpty)
      for (b <- 8 to 11)
        DeltaIndex.commit(Seq(s"key$b").toDF("k"), dir, b.toLong,
          empty, Some(bkt), compactEvery = 2, inlineBase = false)
      assert(DeltaIndex.compactBase(dir, empty, Some(bkt), spark)
        .contains(11L))
      // the second fold's reap removes everything below the PREVIOUS
      // base (7) — replay-reachability, one fold cycle behind
      assert(committedDirs(dir, "base_").keySet == Set(7L, 11L))
      assert(committedDirs(dir, "mid_").keySet == Set(7L, 9L, 11L),
        s"mids below base_7 must reap: ${committedDirs(dir, "mid_").keySet}")
      assert(DeltaIndex.readAll(dir, empty, spark)
        .as[String].collect().toSet ==
        (0 to 11).map(b => s"key$b").toSet)
    }
  }

  test("OUT-OF-BAND compaction, CONCURRENT drive (r17): a live " +
      "inlineBaseFold=false stream keeps committing while a racing " +
      "compactor thread folds — every base on disk is a compactor " +
      "watermark (no batch ever folded one), the accumulated state " +
      "is exactly the union, and post-compaction pruned probes still " +
      "dedup URLs first seen before any fold") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft_oobconc") { d =>
      val root = java.nio.file.Path.of(d)
      val idxDir = root.resolve("idx").toString
      val ckpt = root.resolve("ckpt").toString
      def empty = Seq.empty[String].toDF("canon_url")
      val src = MemoryStream[(Long, String, String)]
      val got = scala.collection.mutable.Map.empty[Long, Long]
      val query = StreamOps.incrementalUrlDedupStreamDurable(
        src.toDF().toDF("doc_id", "url", "html"), idxDir, empty, ckpt,
        compactEvery = 2, inlineBaseFold = false) {
        (batch, id) => got(id) = batch.count()
      }
      val folded =
        new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val compactor = new Thread(() =>
        try {
          while (!stop.get()) {
            StreamOps.compactIndexState(idxDir, empty,
              Seq("canon_url"), spark).foreach(w => folded.add(w))
            Thread.sleep(20)
          }
        } catch { case t: Throwable => failed.set(t) })
      compactor.start()
      try {
        for (b <- 0 until 10) {
          src.addData(recs(b, 40): _*)
          query.processAllAvailable()
        }
      } finally {
        query.stop()
        stop.set(true)
        compactor.join()
      }
      assert(failed.get() == null,
        s"compactor thread must not race the stream: ${failed.get()}")
      // drain the tail deterministically
      StreamOps.compactIndexState(idxDir, empty, Seq("canon_url"), spark)
        .foreach(w => folded.add(w))
      assert((0L until 10L).forall(got(_) == 40L), s"$got")
      val watermarks = {
        import scala.jdk.CollectionConverters._
        folded.asScala.map(_.toLong).toSet
      }
      assert(watermarks.nonEmpty, "the compactor must have folded")
      val bases = committedDirs(idxDir, "base_").keySet
      assert(bases.subsetOf(watermarks + -1L),
        s"every base must be a compactor watermark (or the seed), " +
          s"never an inline batch fold: bases=$bases folded=$watermarks")
      // the accumulated state is exactly the union of all batches
      val seen = StreamOps.readIndexState(idxDir, empty, spark)
        .distinct().count()
      assert(seen == 400L, s"accumulated seen-set: $seen")
      // and a pruned probe against the compacted chain still finds a
      // batch-0 URL (the canonical respelling-drops contract)
      val bkt = Bucketing(DeltaIndex.NumBuckets, Seq("canon_url"))
      val probe = Seq("https://h0.example.org/p7").toDF("canon_url")
      val hit = DeltaIndex.readPruned(idxDir, Long.MaxValue, empty, bkt,
        bkt.bucketsOf(probe), spark)
        .join(probe, Seq("canon_url"), "left_semi").count()
      assert(hit == 1L,
        "a URL first seen before any fold must survive compaction")
    }
  }

  test("VERSIONED chain + OUT-OF-BAND compaction (r17): with inline " +
      "bases off, compactIndexState(resolveKey) discards dead " +
      "upserts and tombstones at the fold, reads resolve identically " +
      "before and after, and a post-fold re-ingest of the deleted " +
      "key is first sight") {
    withTempDir("graft_deltaversoob") { root =>
      val dir = s"$root/idx"
      val bkt = Bucketing(8, Seq("k"))
      def empty = DeltaIndex.asOps(Seq.empty[String].toDF("k"), "u", -1L)
      def commitOp(op: String, key: String, b: Long): Unit =
        DeltaIndex.commit(DeltaIndex.asOps(Seq(key).toDF("k"), op,
          if (op == "u") DeltaIndex.upsertSeq(b)
          else DeltaIndex.deleteSeq(b)),
          dir, b, empty, Some(bkt), compactEvery = 2,
          inlineBase = false)
      def liveSet: Set[String] = DeltaIndex.resolveDeletes(
        DeltaIndex.readAll(dir, empty, spark), Seq("k"))
        .as[String].collect().toSet
      commitOp("u", "a", 0L)
      commitOp("u", "b", 1L)
      commitOp("d", "a", 2L)
      commitOp("u", "c", 3L)
      assert(liveSet == Set("b", "c"))
      assert(StreamOps.compactIndexState(dir, empty, Seq("k"), spark,
        numBuckets = 8, resolveKey = Seq("k")).contains(3L))
      assert(liveSet == Set("b", "c"),
        "resolution must be identical across the out-of-band fold")
      // the fold DISCARDED the dead upsert and its tombstone
      val base3 = spark.read
        .parquet(committedDirs(dir, "base_")(3L).getAbsolutePath)
      assert(base3.where(org.apache.spark.sql.functions
        .col(DeltaIndex.OpCol) === "d").count() == 0L)
      assert(base3.where(org.apache.spark.sql.functions
        .col("k") === "a").count() == 0L)
      // re-ingest of the deleted key after the fold: first sight
      commitOp("u", "a", 4L)
      assert(liveSet == Set("a", "b", "c"))
    }
  }

  test("SEED-AS-BASE (r17): a probe against a seeded-but-NEVER-" +
      "folded chain is storage-pruned — every scanned file lives in " +
      "a wanted bucket subdir of base_-1, the fallback frame's scan " +
      "never runs, and seeding is once-ever (a second construction's " +
      "differing seed is ignored)") {
    withTempDir("graft_deltaseed") { root =>
      val dir = s"$root/idx"
      val bkt = Bucketing(8, Seq("k"))
      def empty = Seq.empty[String].toDF("k")
      val seeded = DeltaIndex.seed(
        (0 until 64).map(j => s"seed_$j").toDF("k"), dir, Some(bkt))
      assert(seeded)
      // no deltas, no folds — the chain is JUST the seed
      assert(committedDirs(dir, "base_").keySet == Set(-1L))
      val probe = Seq("seed_7", "seed_40").toDF("k")
      val buckets = bkt.bucketsOf(probe)
      // the fallback is a POISONED frame: evaluating its rows throws
      // (assert_true is wired INTO the k column, so pruning can't drop
      // it) — this read succeeding proves the fallback branch never runs
      def poisoned = spark.range(1).selectExpr(
        "if(isnull(assert_true(id < 0)), cast(id as string), null) as k")
      val pruned = DeltaIndex.readPruned(dir, Long.MaxValue, poisoned,
        bkt, buckets, spark)
      assert(pruned.join(probe, Seq("k"), "left_semi")
        .as[String].collect().toSet == Set("seed_7", "seed_40"))
      assert(pruned.inputFiles.nonEmpty && pruned.inputFiles.forall(f =>
        buckets.exists(b => f.contains(s"__bucket=$b"))),
        s"every scanned file must be a wanted seed bucket: " +
          s"${pruned.inputFiles.toSeq}")
      // once-ever: re-seeding (a restart, or a differing caller) no-ops
      assert(!DeltaIndex.seed(Seq("other").toDF("k"), dir, Some(bkt)))
      assert(DeltaIndex.readAll(dir, empty, spark).count() == 64L)
      // and the first delta commit composes with the seed normally
      DeltaIndex.commit(Seq("d0").toDF("k"), dir, 0L, empty, Some(bkt))
      assert(DeltaIndex.readAll(dir, empty, spark).count() == 65L)
    }
  }

  test("LEGACY-LAYOUT guard (r16 advice): a sub-chain index root " +
      "holding a committed flat chain fails loudly at stream " +
      "construction instead of silently restarting from initial state") {
    withTempDir("graft_deltalegacy") { root =>
      val legacyDir = s"$root/idx"
      def empty = Seq.empty[String].toDF("k")
      // an r15-era flat chain: committed delta_0 directly at the root
      DeltaIndex.commit(Seq("key0").toDF("k"), legacyDir, 0L, empty)
      val err = intercept[IllegalArgumentException] {
        DeltaIndex.requireSubChainLayout(legacyDir,
          "sigs/ chunks/ maxid/", spark)
      }
      assert(err.getMessage.contains("legacy single-chain"))
      // a fresh root (not yet created) and a sub-chain root both pass
      DeltaIndex.requireSubChainLayout(s"$root/fresh", "a/ b/", spark)
      DeltaIndex.commit(Seq("key0").toDF("k"), s"$root/sub/sigs", 0L,
        empty)
      DeltaIndex.requireSubChainLayout(s"$root/sub", "sigs/", spark)
      // and the guard is WIRED: the image-dedup stream refuses the
      // legacy root at construction (before any batch runs)
      implicit val sqlCtx = spark.sqlContext
      val src = MemoryStream[(Long, Long, Long)]
      val err2 = intercept[IllegalArgumentException] {
        StreamOps.incrementalImageDedupStreamDurable(
          src.toDF().toDF("doc_id", "lo", "hi"), legacyDir,
          Seq.empty[(Long, Long, Long)].toDF("doc_id", "lo", "hi"),
          s"$root/ckpt") { (_, _) => () }
      }
      assert(err2.getMessage.contains("legacy single-chain"))
    }
  }

  test("a respelling of a URL whose first sighting was FOLDED through " +
      "a mid INTO A BASE still drops — tiered compaction preserves " +
      "the dedup contract across hard restarts") {
    import org.apache.spark.sql.types._
    withTempDir("graft_deltabase") { d =>
      val root = java.nio.file.Path.of(d)
      val in = java.nio.file.Files.createDirectory(root.resolve("in"))
      val idxDir = root.resolve("idx").toString
      val ckpt = root.resolve("ckpt").toString
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("url", StringType), StructField("html", StringType)))
      def writeRecs(name: String,
          rs: Seq[(Long, String, String)]): Unit =
        rs.toDF("doc_id", "url", "html").coalesce(1)
          .write.mode("overwrite").parquet(in.resolve(name).toString)
      val got = scala.collection.mutable.Map.empty[Long, Set[Long]]
      def startQ() = StreamOps.incrementalUrlDedupStreamDurable(
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "*.parquet")
          .option("recursiveFileLookup", "true")
          .parquet(in.toString),
        idxDir, Seq.empty[String].toDF("canon_url"), ckpt,
        compactEvery = 2) { (batch, id) =>
        got(id) = batch.select("doc_id").as[Long].collect().toSet
      }
      // four batches: b1 folds {0,1} into mid_1, b3 escalates to
      // base_3 (two mids would accumulate) — b0's URL now lives ONLY
      // in folded state
      for ((name, id, url) <- Seq(
          ("b0", 10L, "https://a.example.org/p"),
          ("b1", 20L, "https://a.example.org/q"),
          ("b2", 30L, "https://a.example.org/r"),
          ("b3", 40L, "https://a.example.org/s"))) {
        writeRecs(name, Seq((id, url, "<p>x</p>")))
        val q = startQ()
        try q.processAllAvailable() finally q.stop()
      }
      assert(committedDirs(idxDir, "base_").keySet == Set(-1L, 3L),
        s"compactEvery=2 escalates to a base at batch 3 (base_-1 is " +
          s"the r17 construction seed): " +
          s"${committedDirs(idxDir, "base_").keySet}")
      // restart AGAIN and respell the base-folded URL
      writeRecs("b4", Seq(
        (50L, "HTTPS://A.EXAMPLE.ORG:443/p#frag", "<p>p again</p>"),
        (51L, "https://a.example.org/t", "<p>fresh</p>")))
      val q5 = startQ()
      try q5.processAllAvailable() finally q5.stop()
      assert(got(0L) == Set(10L) && got(1L) == Set(20L) &&
        got(2L) == Set(30L) && got(3L) == Set(40L))
      assert(got(4L) == Set(51L),
        s"the respelling of the base-folded URL must drop: ${got(4L)}")
    }
  }

  test("seed (r18 advice): a chain with committed deltas/mids but NO " +
      "base — the pre-seed layout, whose initial state rode the " +
      "caller's fallback — fails LOUDLY at seeding instead of " +
      "silently dropping the seed corpus; a properly seeded chain's " +
      "restart stays a silent no-op") {
    withTempDir("graft_seedg") { d =>
      val root = java.nio.file.Path.of(d)
      val legacy = root.resolve("legacy").toString
      val fine = root.resolve("fine").toString
      val seedDf = Seq("a", "b").toDF("k")
      // simulate the pre-seed layout: a committed delta, no base ever
      DeltaIndex.commit(Seq("c").toDF("k"), legacy, 0L, seedDf)
      val err = intercept[IllegalArgumentException] {
        DeltaIndex.seed(seedDf, legacy)
      }
      assert(err.getMessage.contains("NO base"), s"$err")
      // first construction seeds; a restart (chain now has base_-1 +
      // deltas) no-ops without complaint and loses nothing
      assert(DeltaIndex.seed(seedDf, fine))
      DeltaIndex.commit(Seq("c").toDF("k"), fine, 0L, seedDf)
      assert(!DeltaIndex.seed(seedDf, fine))
      assert(DeltaIndex.readAll(fine, seedDf.limit(0), spark)
        .as[String].collect().toSet == Set("a", "b", "c"))
    }
  }
}
