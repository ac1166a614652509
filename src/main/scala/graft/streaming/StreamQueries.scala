package graft.streaming

import graft.{Memo, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registered (oracle-checked) queries for the VERSIONED-chain
  * resolution algebra ([[DeltaIndex]] tombstones, r17): the durable
  * streams exercise resolution against live state under folds and
  * restarts (StreamOpsSpec/DeltaIndexSpec), and THESE twins pin the
  * same algebra cross-engine against DuckDB over a deterministic
  * versioned-op fixture built from `documents` — upsert generation 1
  * for every doc, a second upsert generation for doc_id % 5 = 0
  * (seq 3), tombstones for doc_id % 7 = 0 (seq 4), and a re-ingest
  * for doc_id % 14 = 0 (seq 5, above its tombstone). The fixture
  * hits every resolution case: plain live rows, multi-generation
  * upserts, dead-by-tombstone rows, and delete-then-reingest.
  */
object StreamQueries {

  /** The deterministic versioned-op multiset over `documents`:
    * (doc_id, v, __op, __seq) with v = byte length of the text (cast
    * long to match DuckDB's length()). Tombstones carry a null v —
    * exactly the shape a takedown record has. */
  private def ops(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("v"))
    DeltaIndex.asOps(d, "u", 1L)
      .unionAll(DeltaIndex.asOps(
        d.where(col("doc_id") % 5 === 0)
          .withColumn("v", col("v") + 500L), "u", 3L))
      .unionAll(DeltaIndex.asOps(
        d.where(col("doc_id") % 7 === 0)
          .withColumn("v", lit(null).cast("long")), "d", 4L))
      .unionAll(DeltaIndex.asOps(
        d.where(col("doc_id") % 14 === 0)
          .withColumn("v", col("v") + 1000L), "u", 5L))
  }

  private val opsSql: String =
    """WITH ops AS (
      |  SELECT doc_id, length(text)::BIGINT AS v, 'u' AS op, 1 AS seq
      |    FROM documents
      |  UNION ALL
      |  SELECT doc_id, length(text)::BIGINT + 500, 'u', 3
      |    FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id, NULL::BIGINT, 'd', 4
      |    FROM documents WHERE doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id, length(text)::BIGINT + 1000, 'u', 5
      |    FROM documents WHERE doc_id % 14 = 0
      |)""".stripMargin

  val queries: Seq[Q] = Seq(

    // ---- single-row-entity resolution (the IVF postings shape):
    //      exactly the latest op per key — max by (seq, delete-wins-
    //      ties) — live iff it is an upsert. The DuckDB mirror
    //      replays the identical tie-break via row_number.
    Q("stream_resolve_latest", Some(
      s"""$opsSql
         |SELECT doc_id, v FROM (
         |  SELECT doc_id, v, op, row_number() OVER (
         |    PARTITION BY doc_id
         |    ORDER BY seq DESC, (op = 'd') DESC) AS rn
         |  FROM ops) ranked
         |WHERE rn = 1 AND op = 'u'
         |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      DeltaIndex.resolveLatest(ops(s, dir), Seq("doc_id"))
        .orderBy("doc_id")
    },

    // ---- multi-row-entity resolution (the URL seen-set / band-rows
    //      shape): an upsert row is live iff no tombstone of its
    //      entity carries seq >= its own — BOTH generations of a
    //      never-deleted doc survive.
    Q("stream_resolve_deletes", Some(
      s"""$opsSql
         |SELECT o.doc_id, o.v FROM ops o
         |LEFT JOIN (
         |  SELECT doc_id, max(seq) AS dseq FROM ops
         |  WHERE op = 'd' GROUP BY doc_id) t USING (doc_id)
         |WHERE o.op = 'u' AND (t.dseq IS NULL OR o.seq > t.dseq)
         |ORDER BY doc_id, v""".stripMargin)) { (s, dir) =>
      DeltaIndex.resolveDeletes(ops(s, dir), Seq("doc_id"))
        .orderBy("doc_id", "v")
    },

    // ---- the PRODUCTION read path (r18 — r17 verdict task 5): the
    //      two twins above pin the resolution algebra on a flat
    //      frame; THIS one pins resolve-over-readPruned-state on a
    //      real on-disk versioned chain — seed base_-1, delta
    //      commits, a window fold, a RESOLVING base fold, and a
    //      post-base tombstone delta — read bucket-PRUNED to a probe
    //      subset (doc_id % 3) and resolved latest-wins, against a
    //      DuckDB mirror of the same op multiset. The chain is built
    //      ONCE per (JVM, sfDir) into a temp dir (deterministic by
    //      construction — identical commits every time; the
    //      dedup_components memoized-fixed-point precedent), so the
    //      MEASURED query is the production read path itself, not
    //      the fixture's write jobs.
    Q("stream_resolve_pruned", Some(
      s"""WITH ops AS (
         |  SELECT doc_id, length(text)::BIGINT AS v, 'u' AS op,
         |    -1 AS seq FROM documents
         |  UNION ALL
         |  SELECT doc_id, length(text)::BIGINT + 500, 'u', 1
         |    FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id, NULL::BIGINT, 'd', 2
         |    FROM documents WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id, length(text)::BIGINT + 1000, 'u', 5
         |    FROM documents WHERE doc_id % 14 = 0
         |  UNION ALL
         |  SELECT doc_id, length(text)::BIGINT + 2000, 'u', 7
         |    FROM documents WHERE doc_id % 11 = 0
         |  UNION ALL
         |  SELECT doc_id, NULL::BIGINT, 'd', 8
         |    FROM documents WHERE doc_id % 13 = 0
         |)
         |SELECT doc_id, v FROM (
         |  SELECT doc_id, v, op, row_number() OVER (
         |    PARTITION BY doc_id
         |    ORDER BY seq DESC, (op = 'd') DESC) AS rn
         |  FROM ops) ranked
         |WHERE rn = 1 AND op = 'u' AND doc_id % 3 = 0
         |ORDER BY doc_id""".stripMargin)) { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("v"))
      val bkt = Bucketing(DeltaIndex.NumBuckets, Seq("doc_id"))
      val init = DeltaIndex.asOps(d.limit(0), "u", -1L)
      val idx = chainMemo(dir, "documents", "vchain") {
        val root = java.nio.file.Files.createTempDirectory("graft_vchain")
        sys.addShutdownHook(deleteRecursively(root))
        val p = s"$root/chain"
        writeChain(d, p, init, bkt)
        p
      }
      // the pruned probe read: only the buckets the probe keys
      // (doc_id % 3) hash to are listed/scanned
      val probe = d.where(col("doc_id") % 3 === 0).select("doc_id")
      DeltaIndex.resolveLatest(
        DeltaIndex.readPruned(idx, Long.MaxValue, init, bkt,
          bkt.bucketsOf(probe), s), Seq("doc_id"))
        .where(col("doc_id") % 3 === 0)
        .select("doc_id", "v")
        .orderBy("doc_id")
    }
  )

  /** `stream_resolve_pruned`'s fixture chain per documents table —
    * built once into a temp dir that is deleted when the JVM exits,
    * read by every pass (identical commits every build). */
  private val chainMemo = new Memo[String]

  /** BENCH-ONLY timed measurement of the versioned-chain WRITE path
    * (r19 — r18 verdict task 7: memoizing `stream_resolve_pruned`'s
    * fixture left commit/fold/compaction cost with no benchmark
    * anywhere). Every invocation pays the FULL production write
    * sequence into a FRESH temp dir — seed (bucketed base_-1) + 5
    * delta commits over `documents` (the stream_resolve_pruned op
    * multiset: upserts, tombstones, delete-then-reingest), including
    * the window fold at b1 and the RESOLVING base fold at b3 — then
    * one resolved read-back, reduced to a single (n_live, sum_v) row
    * that is eagerly checkpointed so the on-disk chain can be deleted
    * before the frame is returned. Deliberately NOT registered in
    * [[queries]]: it measures writes (nondeterministic temp paths, no
    * DuckDB mirror of a filesystem protocol); Bench picks it up via
    * [[graft.SparkEntry.benchOnly]]. */
  def ingestCommitBench(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("v"))
    val bkt = Bucketing(DeltaIndex.NumBuckets, Seq("doc_id"))
    val init = DeltaIndex.asOps(d.limit(0), "u", -1L)
    val root = java.nio.file.Files
      .createTempDirectory("graft_vchain_bench")
    val p = s"$root/chain"
    try {
      writeChain(d, p, init, bkt)
      DeltaIndex.resolveLatest(
          DeltaIndex.readAll(p, init, s), Seq("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_live"),
          sum("v").cast("long").as("sum_v"))
        .localCheckpoint()
    } finally deleteRecursively(root)
  }

  /** The versioned chain both `stream_resolve_pruned` and
    * [[ingestCommitBench]] read, written to `p` from the (doc_id, v)
    * rows `d`: the seed (generation-1 upserts ride base_-1) plus five
    * delta commits of the query's op multiset, compacting every 2. */
  private def writeChain(d: DataFrame, p: String, init: DataFrame,
      bkt: Bucketing): Unit = {
    def fold(st: DataFrame): DataFrame =
      DeltaIndex.resolveLatestOps(st, Seq("doc_id"))
    def commit(batchId: Long, delta: DataFrame): Unit =
      DeltaIndex.commit(delta, p, batchId, init, Some(bkt),
        compactEvery = 2, inlineBase = true, baseFold = fold)
    DeltaIndex.seed(DeltaIndex.asOps(d, "u", -1L), p, Some(bkt))
    // b0: a second upsert generation
    commit(0L, DeltaIndex.asOps(d.where(col("doc_id") % 5 === 0)
      .withColumn("v", col("v") + 500L), "u", DeltaIndex.upsertSeq(0)))
    // b1: tombstones (null payload — the takedown-record shape);
    // triggers the WINDOW fold (mid_1)
    commit(1L, DeltaIndex.asOps(d.where(col("doc_id") % 7 === 0)
      .withColumn("v", lit(null).cast("long")), "d",
      DeltaIndex.deleteSeq(1)))
    // b2: delete-then-reingest above the tombstone
    commit(2L, DeltaIndex.asOps(d.where(col("doc_id") % 14 === 0)
      .withColumn("v", col("v") + 1000L), "u", DeltaIndex.upsertSeq(2)))
    // b3: a third generation; triggers the RESOLVING base fold (base_3 —
    // dead rows and tombstones below it leave the chain)
    commit(3L, DeltaIndex.asOps(d.where(col("doc_id") % 11 === 0)
      .withColumn("v", col("v") + 2000L), "u", DeltaIndex.upsertSeq(3)))
    // b4: tombstones ABOVE the base, so the read itself must resolve
    // across tiers (base survivors vs fresh deltas)
    commit(4L, DeltaIndex.asOps(d.where(col("doc_id") % 13 === 0)
      .withColumn("v", lit(null).cast("long")), "d",
      DeltaIndex.deleteSeq(4)))
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }
}
