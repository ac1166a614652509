package graft.streaming

import graft.SparkSpec

/** The durable-index layout against a NON-DEFAULT Hadoop filesystem
  * (r15 verdict #6): the r15 port moved every directory operation to
  * the Hadoop FileSystem API so the same code runs on HDFS/S3A; this
  * spec pins that by swapping the `file:` scheme's implementation to
  * `RawLocalFileSystem` (no checksum wrapper — a DIFFERENT FileSystem
  * class with different on-disk behavior, uncached) and driving the
  * full commit → tiered fold → reap → pruned-probe → readAll cycle.
  * Any surviving `java.io.File` assumption, or any path resolved
  * outside the session's Hadoop conf, either breaks the cycle or
  * betrays itself through `.crc` sidecar files (which only the
  * default ChecksumFileSystem writes). */
class DeltaIndexFsSpec extends SparkSpec {
  import spark.implicits._

  test("commit/fold/reap/prune/readAll all run through the session's " +
      "Hadoop FileSystem (RawLocalFileSystem swap-in), not " +
      "java.io.File — and the swap provably took effect") {
    withTempDir("graft_rawfs") { root =>
      val dir = s"$root/idx"
      val bkt = Bucketing(4, Seq("k"))
      def empty = Seq.empty[String].toDF("k")
      spark.conf.set("fs.file.impl",
        "org.apache.hadoop.fs.RawLocalFileSystem")
      // FileSystem.CACHE keys on (scheme, authority, ugi) only — without
      // this, Path.getFileSystem would keep returning the cached default
      // LocalFileSystem and the swap would silently not happen
      spark.conf.set("fs.file.impl.disable.cache", "true")
      try {
        for (b <- 0 to 7)
          DeltaIndex.commit(Seq(s"key$b").toDF("k"), dir, b.toLong,
            empty, Some(bkt), compactEvery = 2)
        // tiering fired through the swapped FS: mid_1→base_3→mid_5→
        // base_7, whose reap removed everything below base_3
        import StreamOpsSpecHelpers.committedDirs
        assert(committedDirs(dir, "base_").keySet == Set(3L, 7L))
        assert(committedDirs(dir, "mid_").keySet == Set(5L))
        assert(committedDirs(dir, "delta_").keySet ==
          Set(3L, 4L, 5L, 6L, 7L))
        val all = DeltaIndex.readAll(dir, empty, spark)
          .as[String].collect().toSet
        assert(all == (0 to 7).map(b => s"key$b").toSet)
        // pruned probe through the swapped FS
        val probe = Seq("key6").toDF("k")
        val pruned = DeltaIndex.readPruned(dir, Long.MaxValue, empty,
          bkt, bkt.bucketsOf(probe), spark)
        assert(pruned.join(probe, Seq("k"), "left_semi")
          .as[String].collect().toSet == Set("key6"))
        // the swap took: RawLocalFileSystem writes NO .crc sidecars;
        // the default LocalFileSystem (ChecksumFileSystem) would have
        val crcs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          .filter(_.getFileName.toString.endsWith(".crc"))
          .count()
        assert(crcs == 0L,
          s"found $crcs .crc sidecars — writes bypassed the swapped FS")
      } finally {
        spark.conf.unset("fs.file.impl")
        spark.conf.unset("fs.file.impl.disable.cache")
      }
    }
  }
}
