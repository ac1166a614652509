package graft.operators

import graft.{Memo, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>`, 64-dim):
  *
  *   - brute-force cosine top-k (the exactness baseline; fine whenever the
  *     query set is small — it broadcasts the queries and scans the corpus
  *     once, embarrassingly parallel);
  *   - random-hyperplane LSH bucketing (the scale path: each vector hashes
  *     to a bucket, candidate generation is a bucket equijoin instead of a
  *     cross product);
  *   - cosine near-duplicate pairs over a bounded subset.
  *
  * Dot products run in whole-stage-codegen'd higher-order functions
  * (`zip_with` + `aggregate`) over doubles — no UDFs, no Python. Output
  * similarities are rounded to 4 decimals so Spark's ordered array fold
  * and DuckDB's unordered join-sum hash-match despite ulp-level drift.
  */
object Similarity {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** IVF centroid matrices per embeddings table: the trained k-means
    * index (`ivf-trained`; training is seeded-deterministic, so the memo
    * only skips redundant Lloyd jobs) and the fixed int-plane matrix
    * (`int8`, [[int8Centroids]]). k×dim doubles per entry — bounded. */
  private val centroidMemo = new Memo[Seq[Seq[Double]]]

  /** The deterministic int-plane IVF centroids: the 8 integer-quantized
    * corpus vectors vec_id < 8, collected once per table. The collect
    * runs on its OWN read, never on a frame the caller returns (see
    * ann_ivf_int on shared-fragment execution). */
  private def int8Centroids(s: SparkSession, dir: String)
      : Seq[Seq[Double]] =
    centroidMemo(dir, "embeddings", "int8")(
      quantized1000(emb(s, dir)).where(col("vec_id") < 8)
        .orderBy("vec_id")
        .collect().map(_.getSeq[Double](1).toSeq).toSeq)

  /** embedding (array<float>) → one (dim, x) double row per element
    * (vec_id retained when present) — THE unnest shape shared by the
    * per-dimension stats pass and its paired materialization, so the
    * cast/indexing discipline cannot diverge between them. */
  private def unnestDims(df: DataFrame): DataFrame = {
    val keep = df.columns.filter(_ == "vec_id").map(col).toSeq
    df.select(keep :+ posexplode(
      expr("transform(embedding, x -> cast(x as double))"))
      .as(Seq("dim", "x")): _*)
  }

  /** embedding (array<float>) → array<double> plus its L2 norm. */
  private def withVec(df: DataFrame): DataFrame =
    df.select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))

  /** Native codegen'd dot product ([[graft.functions.ArrayDotProduct]],
    * r8): the zip_with+aggregate higher-order idiom this replaces is
    * CodegenFallback — interpreted lambdas plus an allocated zipped
    * array per pair — which dominated the candidate-scoring loops.
    * Index-order arithmetic is identical, so every oracle hash is
    * unchanged. */
  private def dot(a: Column, b: Column): Column =
    call_function("array_dot", a, b)

  /** Exact cosine top-k of `corpus` for each row of `queries` (both shaped
    * like `embeddings`). Queries are broadcast; one corpus scan. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = withVec(queries).select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("norm").as("qnorm"))
    val c = withVec(corpus)
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    c.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("sim", dot(col("qv"), col("v")) / (col("qnorm") * col("norm")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rnk"),
        round(col("sim"), 4).as("sim_r"))
      .orderBy("query_id", "rnk")
  }

  /** Random-hyperplane LSH with multi-probe and OR'd tables: each vector
    * gets one `planes`-bit bucket per table (sign bits of seeded
    * hyperplane dots); a query probes its own bucket PLUS every Hamming-1
    * neighbor bucket (single-bit flips — the planes most likely to have
    * mis-sorted a true neighbor) in each table. Candidate generation stays
    * a (table, bucket) equijoin; the corpus side is replicated `tables`×
    * (standard OR'd-table index cost), the probe fan-out lives on the tiny
    * broadcast query side. Round 1's single-bucket/single-table variant
    * had an unquantified recall hole (7 of 50 expected rows at sf0.1);
    * multi-probe closes it and SimilaritySpec now pins recall@5 >= 0.9 on
    * a clustered corpus. Hyperplanes are generated from a fixed seed
    * (deterministic across runs), or supplied explicitly via
    * `hyperplanes` — `ann_lsh_int` routes [[intPlanes]] through here so
    * the oracle twin exercises this exact bucket/probe/union path. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      planes: Int = 8, tables: Int = 2, dim: Int = 64,
      hyperplanes: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    val rnd = new scala.util.Random(7)
    val mats: Seq[Seq[Seq[Double]]] = hyperplanes.getOrElse(
      Seq.fill(tables)(Seq.fill(planes)(Seq.fill(dim)(rnd.nextGaussian()))))
    require(mats.size == tables && mats.forall(_.size == planes) &&
      mats.forall(_.forall(_.size == dim)),
      "hyperplane matrix shape must be tables x planes x dim")
    def bucketIn(t: Int, v: Column): Column =
      aggregate(
        transform(typedLit(mats(t)), p => when(dot(p, v) > 0, 1).otherwise(0)),
        lit(0), (acc, bit) => acc * 2 + bit)
    def bucketsArr(v: Column): Column =
      array((0 until tables).map(t => bucketIn(t, v)): _*)
    val c = withVec(corpus)
      .select(col("vec_id"), col("v"), col("norm"),
        posexplode(bucketsArr(col("v"))).as(Seq("t", "bucket")))
    val q0 = withVec(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"),
        posexplode(bucketsArr(col("v"))).as(Seq("t", "b")))
    val probeArr = array((0 to planes).map(i =>
      if (i == 0) col("b") else col("b").bitwiseXOR(lit(1 << (i - 1)))): _*)
    val q = q0.select(col("query_id"), col("qv"), col("qnorm"), col("t"),
      explode(probeArr).as("bucket"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    c.join(broadcast(q), Seq("t", "bucket"))
      .where(col("vec_id") =!= col("query_id"))
      // score BEFORE deduping collisions: a (query, candidate) pair can
      // collide in several probes/tables, but deduping slim scored rows
      // keeps the exchange narrow (deduping the raw join output would
      // drag both embedding arrays through a SortAggregate)
      .withColumn("sim", dot(col("qv"), col("v")) / (col("qnorm") * col("norm")))
      .select("query_id", "vec_id", "sim")
      .dropDuplicates("query_id", "vec_id")
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rnk"), round(col("sim"), 4).as("sim_r"))
      .orderBy("query_id", "rnk")
  }

  /** Deterministic INTEGER hyperplanes for the oracle-pinned LSH twin:
    * coefficient(t, p, d) = ((1 + 7t + 11p + 13d) mod 19) - 9, a small
    * full-period affine residue pattern in -9..9 — trivially replicable
    * in SQL, no RNG, no floats. Combined with integer-quantized inputs
    * ([[quantized1000]]) every plane dot is an exact integer sum, so the
    * sign test can never drift between engines' accumulation orders. */
  def intPlanes(tables: Int, planes: Int, dim: Int): Seq[Seq[Seq[Double]]] =
    Seq.tabulate(tables)(t => Seq.tabulate(planes)(p =>
      Seq.tabulate(dim)(d => (((1 + 7 * t + 11 * p + 13 * d) % 19) - 9).toDouble)))

  /** Embeddings with each float quantized to an integer-valued double,
    * floor(x*1000 + 0.5) — half-up in both engines. |x| <= ~4 so terms
    * stay tiny; 64-term integer sums are exact in doubles, making every
    * downstream dot/norm bit-identical regardless of fold order. */
  private def quantized1000(e: DataFrame): DataFrame =
    e.select(col("vec_id"), expr(
      "transform(embedding, x -> cast(floor(cast(x as double) * 1000 + 0.5) as double))")
      .as("embedding"))

  /** Spherical k-means coarse quantizer for [[ivfTopK]]: a few Lloyd
    * iterations, fully distributed — the per-vector assignment and the
    * per-cell dimension sums run as DataFrame aggregates; only the k×dim
    * centroid matrix (bounded, e.g. 16×64 doubles) crosses the driver
    * each iteration, exactly like Spark MLlib's KMeans. Seeds are k
    * deterministic corpus points picked by hashed id (spread uniformly,
    * restart-stable). Empty cells keep their previous centroid. At 100 TB
    * the quantizer trains ONCE per index build on a sample; per-query cost
    * is unchanged (cell equijoin). */
  def trainCentroids(corpus: DataFrame, k: Int = 16, iters: Int = 4,
      dim: Int = 64): Seq[Seq[Double]] = {
    // unit-normalize once: spherical k-means assigns by cosine = dot on
    // normalized vectors, and the mean-then-renormalize update needs v̂
    val vecs = withVec(corpus)
      .where(col("norm") > 0)
      .select(col("vec_id"), expr("transform(v, x -> x / norm)").as("vh"))
      .cache()
    var cents: IndexedSeq[Seq[Double]] = vecs
      .orderBy(pmod(xxhash64(col("vec_id")), lit(1000003L)), col("vec_id"))
      .limit(k).select("vh").collect()
      .map(_.getSeq[Double](0).toIndexedSeq: Seq[Double]).toIndexedSeq
    for (_ <- 1 to iters) {
      val cm = typedLit(cents.toSeq)
      val dots = transform(cm, c => dot(c, col("vh")))
      val cell = (array_position(dots, array_max(dots)) - 1).cast("int")
      val sums = (0 until dim).map(i =>
        sum(element_at(col("vh"), i + 1)).as(s"s$i"))
      val agg = vecs.withColumn("cell", cell)
        .groupBy("cell").agg(sums.head, sums.tail: _*)
        .collect()
      val updated = agg.map { row =>
        val c = row.getInt(0)
        val s = (0 until dim).map(i => row.getDouble(i + 1))
        val n = math.sqrt(s.map(x => x * x).sum)
        c -> (if (n > 0) s.map(_ / n) else cents(c))
      }.toMap
      cents = IndexedSeq.tabulate(cents.size)(c => updated.getOrElse(c, cents(c)))
    }
    vecs.unpersist()
    cents
  }

  /** Iteration cap for [[kmeansConverged]] — both engines run exactly
    * this many Lloyd steps unless an EXACT integer fixed point lands
    * earlier (see the fixed-point argument on the method). */
  val KmeansCap = 6

  /** Cluster count for `emb_kmeans_converged` (seeds = vec_id < k, the
    * emb_centroid_assign/update convention). */
  val KmeansK = 8

  final case class KmeansResult(
      /** Final centroids, micro-units of the q-plane, k×dim. */
      cents: IndexedSeq[IndexedSeq[Long]],
      /** Centroids the LAST executed E-step assigned against (c_{j-1});
        * at a fixed point equal to [[cents]]. */
      assignCents: IndexedSeq[IndexedSeq[Long]],
      /** First iteration whose movement hit 0, else the cap. */
      nIters: Int,
      /** L∞ centroid movement of the last executed iteration. */
      lastMove: Long)

  /** The trained loop of `emb_kmeans_converged` per embeddings table,
    * so bench sweeps time the reporting pass, not the index build. */
  private val kmeansMemo = new Memo[KmeansResult]

  /** CONVERGED k-means on the exact integer plane — the composition of
    * the oracle-pinned E-step (`emb_centroid_assign` argmax) and M-step
    * (`emb_centroid_update` micro-unit means) iterated to a fixed
    * point, the loop every clustering/curriculum pipeline actually
    * runs. All arithmetic is BIGINT-exact: vectors are
    * floor(x·1000+0.5) quantized, centroids live in micro-units of that
    * plane, means use sign-outside-division so Spark's truncating DIV
    * and DuckDB's flooring `//` agree, so the whole trajectory is
    * bit-reproducible across engines.
    *
    * Termination: exactly `cap` iterations, with early exit on EXACT
    * fixed point (movement 0). The exit cannot diverge from the
    * cap-unrolled oracle: movement 0 means c_j = c_{j-1}, so the next
    * E-step sees identical centroids, assigns identically, and the
    * M-step reproduces c_j — the trajectory is constant from j on, and
    * every iteration the oracle "keeps running" is a no-op. (A
    * tolerance-ε exit would NOT have this property — ε-near centroids
    * can flip argmax ties — which is why the gate is exact equality.)
    *
    * Scale shape (the `Dedup.connectedComponents` loop discipline):
    * per iteration ONE corpus-scale pass — inline argmax against the
    * broadcast k×dim literal, then a map-side-combinable (cell, dim)
    * aggregate — and one k×dim-bounded driver sync; the quantized
    * corpus is cached across iterations. Nothing driver-side scales
    * with the corpus. */
  def kmeansTrain(e: DataFrame, k: Int = KmeansK,
      cap: Int = KmeansCap): KmeansResult = {
    val q = quantizedLong(e)
    val dim = e.select(size(col("embedding"))).first.getInt(0)
    val qs = Tables.spread(q, col("vec_id")).cache()
    var cents: IndexedSeq[IndexedSeq[Long]] = qs
      .where(col("vec_id") < k).orderBy("vec_id")
      .collect().map(_.getSeq[Long](1).map(_ * 1000000L).toIndexedSeq)
      .toIndexedSeq
    require(cents.size == k, s"need vec_id 0..${k - 1} as seeds")
    var assignCents = cents
    var nIters = cap
    var lastMove = 0L
    var it = 0
    var done = false
    while (it < cap && !done) {
      it += 1
      assignCents = cents
      val cm = typedLit(cents.map(_.toSeq).toSeq)
      val dots = transform(cm, c => dot(c, col("q")))
      val agg = qs
        .withColumn("cell",
          (array_position(dots, array_max(dots)) - 1).cast("int"))
        .select(col("cell"), posexplode(col("q")).as(Seq("dim", "qi")))
        .groupBy("cell", "dim")
        .agg(sum("qi").as("s"), count(lit(1)).as("n"))
        .select(col("cell"), col("dim"),
          expr("CAST(CASE WHEN s < 0 THEN -((-s * 1000000) DIV n) " +
            "ELSE (s * 1000000) DIV n END AS BIGINT)").as("c"))
        .collect() // k×dim rows — bounded driver sync, one per iteration
      val upd = Array.tabulate(k)(c => cents(c).toArray)
      for (r <- agg) upd(r.getInt(0))(r.getInt(1).toInt) = r.getLong(2)
      val next = upd.map(_.toIndexedSeq).toIndexedSeq
      lastMove = (for (c <- 0 until k; d <- 0 until dim)
        yield math.abs(next(c)(d) - cents(c)(d))).max
      cents = next
      if (lastMove == 0L) { done = true; nIters = it }
    }
    qs.unpersist(blocking = false)
    KmeansResult(cents, assignCents, nIters, lastMove)
  }

  /** [[kmeansTrain]] + the reporting pass: per (cell, dim) final
    * centroid micro-units, per-cell member counts and exact integer
    * inertia (Σ dq² with dq the q-plane residual, sign-aware scaled
    * back from micro — bounded so cell sums fit BIGINT at 10⁹
    * members), and the loop's n_iters / last L∞ movement. Members and
    * inertia are the LAST E-step's assignment scored against the FINAL
    * centroids — the standard Lloyd accounting (the M-step minimizes
    * within-cell variance for exactly that assignment). One extra
    * corpus pass; empty cells report 0/0. */
  def kmeansConverged(e: DataFrame, k: Int = KmeansK,
      cap: Int = KmeansCap): DataFrame =
    kmeansReport(e, kmeansTrain(e, k, cap))

  /** [[kmeansConverged]]'s reporting pass over an already trained loop. */
  private def kmeansReport(e: DataFrame, r: KmeansResult): DataFrame = {
    val s = e.sparkSession
    val cm0 = typedLit(r.assignCents.map(_.toSeq).toSeq)
    val cmF = typedLit(r.cents.map(_.toSeq).toSeq)
    val dots0 = transform(cm0, c => dot(c, col("q")))
    val cellStats = quantizedLong(e)
      .withColumn("cell",
        (array_position(dots0, array_max(dots0)) - 1).cast("int"))
      .withColumn("cf", element_at(cmF, col("cell") + 1))
      .select(col("cell"), expr(
        """aggregate(zip_with(cf, q, (c, x) ->
          |  CAST(CASE WHEN c - x * 1000000 < 0
          |    THEN -((-(c - x * 1000000)) DIV 1000000)
          |    ELSE (c - x * 1000000) DIV 1000000 END AS BIGINT)),
          |  CAST(0 AS BIGINT), (acc, d) -> acc + d * d)""".stripMargin)
          .as("iv"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_members"), sum("iv").as("inertia_q2"))
    s.range(1).select(posexplode(cmF).as(Seq("cell", "cv")))
      .select(col("cell").cast("int").as("cell"),
        posexplode(col("cv")).as(Seq("dim", "centroid_micro")))
      .join(broadcast(cellStats), Seq("cell"), "left")
      .select(col("cell"), col("dim").cast("int").as("dim"),
        col("centroid_micro"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        coalesce(col("inertia_q2"), lit(0L)).as("inertia_q2"),
        lit(r.nIters).as("n_iters"), lit(r.lastMove).as("last_move"))
      .orderBy("cell", "dim")
  }

  /** DuckDB mirror of the [[kmeansTrain]]/[[kmeansConverged]] pair:
    * `cap` unrolled Lloyd steps (the fixed-point argument above makes
    * the unroll equal to the early-exiting loop), n_iters = first
    * zero-movement step, plus the reporting joins. Shared-CTE
    * discipline: one generator, so the mirror cannot drift from the
    * Spark algebra step-by-step. */
  private def sqlKmeansCtes(k: Int, cap: Int): String = {
    def iter(j: Int): String =
      s"""d$j AS (SELECT u.vec_id AS vid, c.cell,
         |        CAST(SUM(c.c * u.q) AS BIGINT) AS dot
         |      FROM u JOIN c${j - 1} c ON u.i = c.dim GROUP BY vid, c.cell),
         |a$j AS (SELECT vid, cell FROM (SELECT vid, cell,
         |        ROW_NUMBER() OVER (PARTITION BY vid
         |          ORDER BY dot DESC, cell) AS rk FROM d$j) WHERE rk = 1),
         |s$j AS (SELECT a.cell, u.i AS dim, CAST(SUM(u.q) AS BIGINT) AS s,
         |        COUNT(*) AS n
         |      FROM u JOIN a$j a ON u.vec_id = a.vid GROUP BY 1, 2),
         |c$j AS (SELECT p.cell, p.dim, CAST(COALESCE(CASE WHEN s.s < 0
         |        THEN -((-s.s * 1000000) // s.n)
         |        ELSE (s.s * 1000000) // s.n END, p.c) AS BIGINT) AS c
         |      FROM c${j - 1} p LEFT JOIN s$j s
         |        ON p.cell = s.cell AND p.dim = s.dim),
         |m$j AS (SELECT MAX(ABS(a.c - b.c)) AS m FROM c$j a JOIN c${j - 1} b
         |      ON a.cell = b.cell AND a.dim = b.dim)""".stripMargin
    s"""u AS (SELECT vec_id,
       |        CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
       |          AS BIGINT) AS q,
       |        generate_subscripts(embedding, 1) - 1 AS i
       |      FROM embeddings),
       |c0 AS (SELECT vec_id AS cell, i AS dim,
       |        CAST(q * 1000000 AS BIGINT) AS c FROM u WHERE vec_id < $k),
       |${(1 to cap).map(iter).mkString(",\n")}""".stripMargin
  }

  /** IVF ANN: coarse quantizer trained by [[trainCentroids]] (spherical
    * k-means), each corpus vector assigned to its nearest centroid cell
    * (argmax dot on the literal centroid matrix — |v| is constant per row,
    * so raw dots rank identically to cosine), queries probing their
    * `nprobe` nearest cells. Candidate generation is a cell equijoin.
    * SimilaritySpec pins recall@5 >= 0.9 vs brute force on a clustered
    * corpus — round 1's untrained random centroids made the cell pruning
    * arbitrary. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      centroids: Int = 16, nprobe: Int = 4, dim: Int = 64,
      trainIters: Int = 4): DataFrame =
    // NB: training runs Spark jobs against `corpus` DURING construction.
    // Callers that will execute the returned Dataset's own
    // QueryExecution (collect/toRdd, not a write) should pass an
    // independently constructed corpus DataFrame, the way the
    // registered queries re-read per side: executing a shared plan
    // fragment can corrupt the main QE under Spark 4.1 attribute dedup
    // (observed on the quantized twin — see ann_ivf_int; the float
    // path here has not reproduced it).
    ivfTopKTrained(trainCentroids(corpus, centroids, trainIters, dim),
      queries, corpus, k, nprobe)

  /** [[ivfTopK]] with a pre-trained centroid matrix — the build-once /
    * query-many split: the registered query memoizes the trained index per
    * data dir so repeated runs measure query cost, not index build. */
  def ivfTopKTrained(cents: Seq[Seq[Double]], queries: DataFrame,
      corpus: DataFrame, k: Int, nprobe: Int = 4): DataFrame =
    ivfRank(cents, queries,
      withVec(corpus).withColumn("cell", bestCell(cents)(col("v"))),
      k, nprobe)

  /** Per-centroid dot products of one vector — THE cell-scoring algebra
    * every IVF path (corpus assign, query probe, postings build) must
    * share, or a vector indexed one way gets probed another. */
  private def cellDots(cents: Seq[Seq[Double]])(v: Column): Column =
    transform(typedLit(cents), c => dot(c, v))

  /** Single best cell (argmax dot; first-max/lowest-cell on ties —
    * `array_position` semantics, pinned by the oracle twins). */
  private def bestCell(cents: Seq[Seq[Double]])(v: Column): Column = {
    val dots = cellDots(cents)(v)
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  /** Cell-assigned POSTINGS of a corpus under a fixed centroid matrix:
    * (vec_id, embedding, cell) — the structure a persisted IVF index
    * stores (raw float embeddings, assignment precomputed once at
    * ingest). [[ivfTopKFromPostings]] consumes it; the durable
    * streaming ingest ([[graft.streaming.StreamOps
    * .ivfIngestStreamDurable]]) persists it hash-bucketed by `cell` so
    * a query reads only the cells it probes. */
  def ivfPostings(cents: Seq[Seq[Double]], corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id"), col("embedding"))
      .withColumn("cell", bestCell(cents)(
        expr("transform(embedding, x -> cast(x as double))")))

  /** [[ivfTopKTrained]] against a PRE-ASSIGNED postings frame
    * ([[ivfPostings]] — or any pruned slice of one covering every cell
    * the queries probe): identical results by construction, since both
    * paths rank through the one [[ivfRank]] core. This is the
    * query-side of the persisted-index split: assignment cost was paid
    * at ingest, and a storage-pruned postings read only ever removes
    * cells the equijoin could not match. */
  def ivfTopKFromPostings(cents: Seq[Seq[Double]], queries: DataFrame,
      postings: DataFrame, k: Int, nprobe: Int = 4): DataFrame =
    ivfRank(cents, queries,
      postings.select(col("vec_id"), col("cell"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        .withColumn("norm", sqrt(dot(col("v"), col("v")))),
      k, nprobe)

  /** The shared IVF probe/rank core: queries probe their `nprobe` best
    * cells, candidates come from the cell equijoin against the
    * cell-assigned corpus (vec_id, v, norm, cell), exact cosine ranks
    * the candidates. ONE definition so the trained and postings paths
    * cannot diverge. */
  /** The (query_id, qv, qnorm, cell) probe rows — each query's
    * `nprobe` best cells via posexplode + rank. Shared by the rank
    * core AND [[ivfQueryCells]] so a storage-pruned read can never
    * probe differently than the join ranks. */
  private def probeRows(cents: Seq[Seq[Double]], queries: DataFrame,
      nprobe: Int): DataFrame = {
    val q0 = withVec(queries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("norm").as("qnorm"))
      .select(col("query_id"), col("qv"), col("qnorm"),
        posexplode(cellDots(cents)(col("qv"))).as(Seq("cell", "cdot")))
    // cell asc tie-break: exact-tie cell dots (possible under the
    // integer-quantized twin) must rank identically in both engines
    val wq = Window.partitionBy("query_id")
      .orderBy(col("cdot").desc, col("cell"))
    q0.withColumn("cr", row_number().over(wq))
      .where(col("cr") <= nprobe)
      .select("query_id", "qv", "qnorm", "cell")
  }

  /** The DISTINCT cells a query set probes — what a persisted-postings
    * consumer prunes its storage read to (the durable streaming index's
    * query path). */
  def ivfQueryCells(cents: Seq[Seq[Double]], queries: DataFrame,
      nprobe: Int): DataFrame =
    probeRows(cents, queries, nprobe).select("cell").distinct()

  private def ivfRank(cents: Seq[Seq[Double]], queries: DataFrame,
      corpusWithCell: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val q = probeRows(cents, queries, nprobe)
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    corpusWithCell.join(broadcast(q), Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("sim", dot(col("qv"), col("v")) / (col("qnorm") * col("norm")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rnk"), round(col("sim"), 4).as("sim_r"))
      .orderBy("query_id", "rnk")
  }

  /** Generated DuckDB mirror of the FULL [[lshTopK]] algebra under
    * [[intPlanes]] + [[quantized1000]]: per-table sign-bit buckets (bit
    * p weighted 2^(planes-1-p), matching the Spark fold's acc*2+bit),
    * the query's own bucket plus every single-bit-flip probe, the
    * (t, bucket) candidate equijoin, DISTINCT collision dedup, and the
    * cosine rank — the same mirror discipline as Dedup's sqlMinhashMd5.
    * All plane dots and norms are integer sums (exact in doubles), so
    * no accumulation-order drift can flip a sign between engines. */
  private def sqlLshInt(planes: Int, tables: Int, k: Int): String = {
    def coeff(t: Int, p: Int) =
      s"(((1 + ${7 * t} + ${11 * p} + 13*(i-1)) % 19) - 9)"
    val bucketCols = (0 until tables).map { t =>
      val bits = (0 until planes).map(p =>
        s"CASE WHEN SUM(${coeff(t, p)} * x) > 0 " +
          s"THEN ${1 << (planes - 1 - p)} ELSE 0 END").mkString(" + ")
      s"CAST($bits AS INTEGER) AS bt$t"
    }.mkString(",\n        ")
    val btUnion = (0 until tables).map(t =>
      s"SELECT vec_id, $t AS t, bt$t AS bucket FROM b")
      .mkString("\n      UNION ALL ")
    val probeUnion = (0 to planes).map(j =>
      if (j == 0) "SELECT query_id, t, bucket FROM q0"
      else s"SELECT query_id, t, xor(bucket, ${1 << (j - 1)}) FROM q0")
      .mkString("\n      UNION ALL ")
    s"""WITH u AS (SELECT vec_id,
       |        CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
       |          AS DOUBLE) AS x,
       |        generate_subscripts(embedding, 1) AS i
       |      FROM embeddings),
       |n AS (SELECT vec_id, SUM(x*x) AS nsq FROM u GROUP BY vec_id),
       |b AS (SELECT vec_id,
       |        $bucketCols
       |      FROM u GROUP BY vec_id),
       |bt AS ($btUnion),
       |q0 AS (SELECT vec_id AS query_id, t, bucket FROM bt
       |       WHERE vec_id % 50 = 0),
       |qp AS ($probeUnion),
       |cand AS (SELECT DISTINCT qp.query_id, bt.vec_id AS nid
       |      FROM qp JOIN bt ON qp.t = bt.t AND qp.bucket = bt.bucket
       |      WHERE bt.vec_id <> qp.query_id),
       |d AS (SELECT c.query_id AS qid, c.nid, SUM(qu.x * cu.x) AS dot
       |      FROM cand c JOIN u qu ON qu.vec_id = c.query_id
       |        JOIN u cu ON cu.vec_id = c.nid AND cu.i = qu.i
       |      GROUP BY qid, nid),
       |s AS (SELECT qid, nid, dot / (sqrt(nq.nsq) * sqrt(nn.nsq)) AS sim
       |      FROM d JOIN n nq ON nq.vec_id = qid
       |        JOIN n nn ON nn.vec_id = nid),
       |r AS (SELECT qid AS query_id, nid AS neighbor_id,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |          ORDER BY sim DESC, nid) AS INTEGER) AS rnk,
       |        ROUND(sim, 4) AS sim_r FROM s)
       |SELECT query_id, neighbor_id, rnk, sim_r FROM r
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin
  }

  /** Generated DuckDB mirror of the FULL [[ivfTopKTrained]] algebra under
    * fixed integer-quantized centroids (corpus vectors vec_id < 8):
    * corpus cell assignment (argmax dot, first-max/lowest-cell on ties —
    * Spark's array_position), the query's top-`nprobe` cell probes
    * ((dot desc, cell) rank), the cell candidate equijoin, and the
    * cosine rank. Integer dots/norms — no accumulation-order drift. */
  private def sqlIvfInt(nprobe: Int, k: Int): String =
    s"""WITH u AS (SELECT vec_id,
       |        CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
       |          AS DOUBLE) AS x,
       |        generate_subscripts(embedding, 1) AS i
       |      FROM embeddings),
       |n AS (SELECT vec_id, SUM(x*x) AS nsq FROM u GROUP BY vec_id),
       |c AS (SELECT vec_id AS cid, x, i FROM u WHERE vec_id < 8),
       |ad AS (SELECT c.cid, u.vec_id AS vid, SUM(c.x * u.x) AS dot
       |      FROM c JOIN u ON c.i = u.i GROUP BY cid, vid),
       |asn AS (SELECT vid, cell FROM (
       |      SELECT vid, cid AS cell, ROW_NUMBER() OVER (PARTITION BY vid
       |        ORDER BY dot DESC, cid) AS rk FROM ad) WHERE rk = 1),
       |qp AS (SELECT vid AS query_id, cell FROM (
       |      SELECT vid, cid AS cell, ROW_NUMBER() OVER (PARTITION BY vid
       |        ORDER BY dot DESC, cid) AS rk FROM ad WHERE vid % 50 = 0)
       |      WHERE rk <= $nprobe),
       |cand AS (SELECT qp.query_id, asn.vid AS nid FROM qp
       |      JOIN asn ON asn.cell = qp.cell
       |      WHERE asn.vid <> qp.query_id),
       |d AS (SELECT cd.query_id AS qid, cd.nid, SUM(qu.x * cu.x) AS dot
       |      FROM cand cd JOIN u qu ON qu.vec_id = cd.query_id
       |        JOIN u cu ON cu.vec_id = cd.nid AND cu.i = qu.i
       |      GROUP BY qid, nid),
       |s AS (SELECT qid, nid, dot / (sqrt(nq.nsq) * sqrt(nn.nsq)) AS sim
       |      FROM d JOIN n nq ON nq.vec_id = qid
       |        JOIN n nn ON nn.vec_id = nid),
       |r AS (SELECT qid AS query_id, nid AS neighbor_id,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |          ORDER BY sim DESC, nid) AS INTEGER) AS rnk,
       |        ROUND(sim, 4) AS sim_r FROM s)
       |SELECT query_id, neighbor_id, rnk, sim_r FROM r
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  /** Product-quantization encode: split each vector into `m` contiguous
    * subspaces of `subDim` dims and, per subspace, assign the code of
    * the nearest codebook entry by squared L2 (ties → lowest code).
    * `codebook` is a (code, m, cv) frame — SMALL by construction
    * (k·m rows) and broadcast, so the encode is one narrow broadcast
    * join + a (vec_id, m)-keyed aggregate: the index-compression pass
    * an ANN system runs over the full corpus at 100 TB, with no
    * all-pairs anything. Returns (vec_id, m, code, err). */
  def pqEncode(vectors: DataFrame, codebook: DataFrame,
      m: Int, subDim: Int): DataFrame = {
    val v = vectors
      .select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("m"),
        col("embedding"))
      .select(col("vec_id"), col("m"),
        expr(s"transform(slice(embedding, m * $subDim + 1, $subDim), " +
          "x -> cast(x as double))").as("sv"))
    v.join(broadcast(codebook), "m")
      .withColumn("dist",
        expr("cast(array_l2sq(sv, cv) as long)"))
      .groupBy("vec_id", "m")
      // lexicographic struct min = (min dist, then lowest code)
      .agg(min(struct(col("dist"), col("code"))).as("s"))
      .select(col("vec_id"), col("m").cast("long").as("m"),
        col("s.code").cast("long").as("code"), col("s.dist").as("err"))
  }

  /** DuckDB mirror of the PQ encode under the int-quantized plane with
    * the first-16-vectors codebook (the engine-independent twin of a
    * trained codebook, same discipline as [[sqlIvfInt]]). */
  private def sqlPqInt(k: Int, m: Int, subDim: Int): String =
    s"""WITH u AS (SELECT vec_id,
       |        CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
       |          AS DOUBLE) AS x,
       |        generate_subscripts(embedding, 1) AS i
       |      FROM embeddings),
       |v AS (SELECT vec_id, (i-1) // $subDim AS m, (i-1) % $subDim AS j, x
       |      FROM u),
       |c AS (SELECT vec_id AS code, (i-1) // $subDim AS m,
       |        (i-1) % $subDim AS j, x
       |      FROM u WHERE vec_id < $k),
       |d AS (SELECT v.vec_id, v.m, c.code,
       |        CAST(SUM((v.x - c.x) * (v.x - c.x)) AS BIGINT) AS dist
       |      FROM v JOIN c ON v.m = c.m AND v.j = c.j
       |      GROUP BY v.vec_id, v.m, c.code),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |        ORDER BY dist, code) AS rk FROM d)
       |SELECT vec_id, CAST(m AS BIGINT) AS m, CAST(code AS BIGINT) AS code,
       |  dist AS err
       |FROM r WHERE rk = 1 ORDER BY vec_id, m""".stripMargin

  /** DuckDB mirror of the PQ ADC search: encode (as [[sqlPqInt]]), the
    * per-query 8×16 lookup table, the 8-add compressed-domain distance,
    * and the (adist, vec_id) top-k rank. */
  private def sqlPqAdcInt(cb: Int, m: Int, subDim: Int, k: Int): String =
    s"""WITH u AS (SELECT vec_id,
       |        CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
       |          AS DOUBLE) AS x,
       |        generate_subscripts(embedding, 1) AS i
       |      FROM embeddings),
       |v AS (SELECT vec_id, (i-1) // $subDim AS m, (i-1) % $subDim AS j, x
       |      FROM u),
       |c AS (SELECT vec_id AS code, (i-1) // $subDim AS m,
       |        (i-1) % $subDim AS j, x
       |      FROM u WHERE vec_id < $cb),
       |dd AS (SELECT v.vec_id, v.m, c.code,
       |        CAST(SUM((v.x - c.x) * (v.x - c.x)) AS BIGINT) AS dist
       |      FROM v JOIN c ON v.m = c.m AND v.j = c.j
       |      GROUP BY v.vec_id, v.m, c.code),
       |codes AS (SELECT vec_id, m, code FROM (
       |      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |        ORDER BY dist, code) AS rk FROM dd) WHERE rk = 1),
       |q AS (SELECT vec_id AS qid, m, j, x FROM v WHERE vec_id % 50 = 0),
       |lut AS (SELECT q.qid, q.m, c.code,
       |        CAST(SUM((q.x - c.x) * (q.x - c.x)) AS BIGINT) AS d
       |      FROM q JOIN c ON q.m = c.m AND q.j = c.j
       |      GROUP BY q.qid, q.m, c.code),
       |s AS (SELECT lut.qid, codes.vec_id,
       |        CAST(SUM(lut.d) AS BIGINT) AS adist
       |      FROM codes JOIN lut ON codes.m = lut.m
       |        AND codes.code = lut.code
       |      WHERE lut.qid <> codes.vec_id GROUP BY qid, vec_id),
       |t AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |        ORDER BY adist, vec_id) AS rnk FROM s)
       |SELECT qid, vec_id, adist, CAST(rnk AS INTEGER) AS rnk
       |FROM t WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin

  /** IVF-PQ: the index structure an actual 100 TB ANN deployment runs —
    * [[ivfTopKTrained]]'s coarse cell pruning composed with
    * [[pqEncode]]'s compressed-domain ADC scan. Build side (once per
    * index): every corpus vector gets its nearest coarse cell (argmax
    * dot on the literal centroid matrix — a narrow projection, zero
    * shuffle) and its `m` PQ codes (broadcast codebook join + one
    * (vec_id, m) aggregate); the two are joined on vec_id into the
    * cell-partitioned code list — THE stored index, one corpus-keyed
    * exchange, built once and amortized over every query at scale.
    * Query side: probe the `nprobe` best cells (broadcast), ADC-scan
    * only those cells' codes via the broadcast (qid, m, code) → d LUT,
    * and rank through the salted two-phase [[Sampling.partialTopK]] —
    * no query ever windows the whole corpus on one task, and no
    * exchange in the query path scales with anything but the probed
    * fraction. `queries`/`corpus`/`codebook` are `embeddings`-shaped
    * ((vec_id, embedding) / (code, m, cv)); `cents` is the trained (or
    * twin) coarse matrix. */
  def ivfPqAdcTopK(queries: DataFrame, corpus: DataFrame,
      cents: Seq[Seq[Double]], codebook: DataFrame, k: Int,
      nprobe: Int = 4, m: Int = 8, subDim: Int = 8): DataFrame = {
    val cm = typedLit(cents)
    def cellDots(v: Column): Column = transform(cm, c => dot(c, v))
    // corpus cell assignment: argmax dot, first-max/lowest-cell ties —
    // identical discipline to ivfTopKTrained so the two indexes agree
    def bestCell(v: Column): Column = {
      val dots = cellDots(v)
      (array_position(dots, array_max(dots)) - 1).cast("int")
    }
    val asn = withVec(corpus)
      .select(col("vec_id"), bestCell(col("v")).as("cell"))
    val codes = pqEncode(corpus, codebook, m, subDim)
      .select(col("vec_id"), col("m"), col("code"))
    // the stored index: cell-tagged code rows (vec_id, cell, m, code)
    val index = codes.join(asn, Seq("vec_id"))
    // query probes: nprobe best cells, (cdot desc, cell) rank — cell asc
    // tie-break keeps exact-tie integer dots engine-deterministic
    val q0 = withVec(queries)
      .select(col("vec_id").as("qid"),
        posexplode(cellDots(col("v"))).as(Seq("cell", "cdot")))
    val wq = Window.partitionBy("qid").orderBy(col("cdot").desc, col("cell"))
    val probes = q0.withColumn("cr", row_number().over(wq))
      .where(col("cr") <= nprobe).select("qid", "cell")
    // per-query subspace LUT: ||q_sub - cv||² for all (m, code)
    val lut = queries
      .select(col("vec_id").as("qid"),
        explode(sequence(lit(0), lit(m - 1))).as("m"), col("embedding"))
      .select(col("qid"), col("m"),
        expr(s"transform(slice(embedding, m * $subDim + 1, $subDim), " +
          "x -> cast(x as double))").as("sv"))
      .join(broadcast(codebook), Seq("m"))
      .select(col("qid"), col("m"), col("code").cast("long").as("code"),
        expr("cast(array_l2sq(sv, cv) as long)").as("d"))
    val sums = index.join(broadcast(probes), Seq("cell"))
      .where(col("qid") =!= col("vec_id"))
      .join(broadcast(lut), Seq("qid", "m", "code"))
      .groupBy("qid", "vec_id")
      .agg(sum("d").as("adist"))
    val survivors = Sampling.partialTopK(sums, "qid",
      Seq(col("adist"), col("vec_id")), k, Sampling.FanOut,
      saltCol = col("vec_id"))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col("vec_id"))
    survivors.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), col("adist"),
        col("rnk").cast("int").as("rnk"))
      .orderBy("qid", "rnk")
  }

  /** Generated DuckDB mirror of the FULL [[ivfPqAdcTopK]] algebra under
    * the deterministic twin indexes ([[sqlIvfInt]]'s first-`cells`
    * centroids, [[sqlPqInt]]'s first-`cb` codebook): corpus cell
    * assignment, PQ encode, the query's `nprobe` cell probes, the probed-
    * cell candidate equijoin, the 8-add LUT distance, and the (adist,
    * vec_id) rank. All-integer sums — no accumulation-order drift. */
  private def sqlIvfPqInt(cells: Int, cb: Int, m: Int, subDim: Int,
      nprobe: Int, k: Int): String =
    s"""WITH ${sqlIvfPqCtes(cells, cb, m, subDim, nprobe)}
       |SELECT qid, vec_id, adist, CAST(rnk AS INTEGER) AS rnk
       |FROM t WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin

  /** The [[sqlIvfPqInt]] CTE chain up to the ranked ADC candidates `t`
    * — shared with the rerank mirror so the two cannot diverge (the
    * sqlPowerCtes discipline). */
  private def sqlIvfPqCtes(cells: Int, cb: Int, m: Int, subDim: Int,
      nprobe: Int): String =
    s"""u AS (SELECT vec_id,
       |        CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
       |          AS DOUBLE) AS x,
       |        generate_subscripts(embedding, 1) AS i
       |      FROM embeddings),
       |cc AS (SELECT vec_id AS cid, x, i FROM u WHERE vec_id < $cells),
       |ad AS (SELECT cc.cid, u.vec_id AS vid, SUM(cc.x * u.x) AS dot
       |      FROM cc JOIN u ON cc.i = u.i GROUP BY cid, vid),
       |asn AS (SELECT vid, cell FROM (
       |      SELECT vid, cid AS cell, ROW_NUMBER() OVER (PARTITION BY vid
       |        ORDER BY dot DESC, cid) AS rk FROM ad) WHERE rk = 1),
       |qp AS (SELECT vid AS qid, cell FROM (
       |      SELECT vid, cid AS cell, ROW_NUMBER() OVER (PARTITION BY vid
       |        ORDER BY dot DESC, cid) AS rk FROM ad WHERE vid % 50 = 0)
       |      WHERE rk <= $nprobe),
       |v AS (SELECT vec_id, (i-1) // $subDim AS m, (i-1) % $subDim AS j, x
       |      FROM u),
       |cbk AS (SELECT vec_id AS code, (i-1) // $subDim AS m,
       |        (i-1) % $subDim AS j, x
       |      FROM u WHERE vec_id < $cb),
       |dd AS (SELECT v.vec_id, v.m, cbk.code,
       |        CAST(SUM((v.x - cbk.x) * (v.x - cbk.x)) AS BIGINT) AS dist
       |      FROM v JOIN cbk ON v.m = cbk.m AND v.j = cbk.j
       |      GROUP BY v.vec_id, v.m, cbk.code),
       |codes AS (SELECT vec_id, m, code FROM (
       |      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |        ORDER BY dist, code) AS rk FROM dd) WHERE rk = 1),
       |q AS (SELECT vec_id AS qid, m, j, x FROM v WHERE vec_id % 50 = 0),
       |lut AS (SELECT q.qid, q.m, cbk.code,
       |        CAST(SUM((q.x - cbk.x) * (q.x - cbk.x)) AS BIGINT) AS d
       |      FROM q JOIN cbk ON q.m = cbk.m AND q.j = cbk.j
       |      GROUP BY q.qid, q.m, cbk.code),
       |cand AS (SELECT qp.qid, asn.vid FROM qp
       |      JOIN asn ON asn.cell = qp.cell
       |      WHERE asn.vid <> qp.qid),
       |s AS (SELECT cand.qid, cand.vid AS vec_id,
       |        CAST(SUM(lut.d) AS BIGINT) AS adist
       |      FROM cand JOIN codes ON codes.vec_id = cand.vid
       |        JOIN lut ON lut.qid = cand.qid AND lut.m = codes.m
       |          AND lut.code = codes.code
       |      GROUP BY cand.qid, cand.vid),
       |t AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |        ORDER BY adist, vec_id) AS rnk FROM s)""".stripMargin

  /** Mirror of the two-stage retrieval: the full IVF-PQ chain to the
    * ADC top-`kCand` candidates, then EXACT integer L2 re-ranking of
    * just those candidates down to `k`. */
  private def sqlIvfPqRerank(cells: Int, cb: Int, m: Int, subDim: Int,
      nprobe: Int, kCand: Int, k: Int): String =
    s"""WITH ${sqlIvfPqCtes(cells, cb, m, subDim, nprobe)},
       |rr AS (SELECT t.qid, t.vec_id,
       |        CAST(SUM((qu.x - cu.x) * (qu.x - cu.x)) AS BIGINT) AS dist
       |      FROM t JOIN u qu ON qu.vec_id = t.qid
       |        JOIN u cu ON cu.vec_id = t.vec_id AND cu.i = qu.i
       |      WHERE t.rnk <= $kCand GROUP BY t.qid, t.vec_id),
       |rr2 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |        ORDER BY dist, vec_id) AS rnk2 FROM rr)
       |SELECT qid, vec_id, dist, CAST(rnk2 AS INTEGER) AS rnk
       |FROM rr2 WHERE rnk2 <= $k ORDER BY qid, rnk""".stripMargin

  /** Embeddings quantized to BIGINT, floor(x*1000 + 0.5) — the Long twin
    * of [[quantized1000]], shared by the power-iteration family. */
  private def quantizedLong(e: DataFrame): DataFrame =
    e.select(col("vec_id"), expr(
      "transform(embedding, x -> " +
        "cast(floor(cast(x as double) * 1000 + 0.5) as bigint))").as("q"))

  /** Sign-bit binary signature of each embedding on the integer plane:
    * bit d = (q_d > 0), packed as TWO 32-bit halves carried in BIGINTs
    * (bits 0..31 only — the sign bit is never set, so shifts, xor and
    * popcount behave identically in both engines; disjoint-bit
    * addition is exact). 64 floats → 8 bytes: the memory-bound binary
    * representation production vector stores rerank in. */
  private def signSigs(e: DataFrame): DataFrame =
    quantizedLong(e).select(col("vec_id"),
      expr("""aggregate(sequence(0, 31), cast(0 as bigint),
        |  (acc, d) -> acc + CASE WHEN element_at(q, d + 1) > 0
        |    THEN shiftleft(cast(1 as bigint), d)
        |    ELSE cast(0 as bigint) END)""".stripMargin).as("lo"),
      expr("""aggregate(sequence(32, 63), cast(0 as bigint),
        |  (acc, d) -> acc + CASE WHEN element_at(q, d + 1) > 0
        |    THEN shiftleft(cast(1 as bigint), d - 32)
        |    ELSE cast(0 as bigint) END)""".stripMargin).as("hi"))

  /** Hamming distance of two packed signatures — two fused
    * popcount(xor) ops, the whole reason binary ANN is fast. */
  private def hammingCol(la: Column, ha: Column,
      lb: Column, hb: Column): Column =
    (bit_count(la.bitwiseXOR(lb)) + bit_count(ha.bitwiseXOR(hb)))
      .cast("int")

  /** The 8 disjoint 8-bit chunks of a packed signature (multi-index
    * hashing): chunk j < 4 from `lo`, j ≥ 4 from `hi`. */
  private def chunksOf(lo: Column, hi: Column): Column =
    array((0 until 8).map { j =>
      val src = if (j < 4) lo else hi
      struct(lit(j).as("cj"),
        shiftright(src, 8 * (j % 4)).bitwiseAND(lit(255L)).as("cv"))
    }: _*)

  /** Exact Hamming top-k over the packed signatures — the brute-force
    * exactness BASELINE (the ann_cosine_topk role): queries (vec_id %
    * 50 = 0) broadcast, one corpus scan, one popcount(xor) pair op. */
  def hammingTopK(e: DataFrame, k: Int): DataFrame = {
    val q = signSigs(e).where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("lo").as("qlo"),
        col("hi").as("qhi"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming"), col("vec_id"))
    signSigs(e).crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("hamming", hammingCol(col("qlo"), col("qhi"),
        col("lo"), col("hi")))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("hamming"), col("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** Multi-index-hashing Hamming top-k (the scale path): candidates
    * from the (chunk index, chunk value) equijoin — by pigeonhole any
    * pair at Hamming ≤ 7 shares one of the 8 disjoint 8-bit chunks —
    * then exact Hamming rank over candidates only. */
  def hammingMihTopK(e: DataFrame, k: Int): DataFrame = {
    val sigs = signSigs(e)
    val ch = sigs.select(col("vec_id"), col("lo"), col("hi"),
      explode(chunksOf(col("lo"), col("hi"))).as("c"))
      .select(col("vec_id"), col("lo"), col("hi"),
        col("c.cj").as("cj"), col("c.cv").as("cv"))
    val qch = ch.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("lo").as("qlo"),
        col("hi").as("qhi"), col("cj"), col("cv"))
    val cand = qch.join(ch.select(col("vec_id"), col("cj"), col("cv")),
        Seq("cj", "cv"))
      .where(col("vec_id") =!= col("query_id"))
      .select("query_id", "qlo", "qhi", "vec_id")
      .dropDuplicates("query_id", "vec_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("hamming"), col("vec_id"))
    cand
      .join(sigs, Seq("vec_id"))
      .withColumn("hamming", hammingCol(col("qlo"), col("qhi"),
        col("lo"), col("hi")))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("hamming"), col("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** Shared oracle CTEs: int plane → packed halves (same disjoint-bit
    * sums) → the query subset. */
  private def sqlSigCtes: String =
    s"""u AS (SELECT vec_id,
       |        CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
       |          AS BIGINT) AS q,
       |        generate_subscripts(embedding, 1) - 1 AS i
       |      FROM embeddings),
       |sig AS (SELECT vec_id,
       |    CAST(SUM(CASE WHEN i < 32 AND q > 0
       |      THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)
       |      AS BIGINT) AS lo,
       |    CAST(SUM(CASE WHEN i >= 32 AND q > 0
       |      THEN (CAST(1 AS BIGINT) << CAST(i - 32 AS INT)) ELSE 0 END)
       |      AS BIGINT) AS hi
       |  FROM u GROUP BY vec_id),
       |qs AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi FROM sig
       |      WHERE vec_id % 50 = 0)""".stripMargin

  private def sqlHammingTopk(k: Int): String =
    s"""WITH $sqlSigCtes,
       |d AS (SELECT q.query_id, s.vec_id AS neighbor_id,
       |        CAST(bit_count(xor(q.qlo, s.lo)) +
       |          bit_count(xor(q.qhi, s.hi)) AS INTEGER) AS hamming
       |      FROM qs q JOIN sig s ON s.vec_id <> q.query_id),
       |r AS (SELECT query_id, neighbor_id, hamming,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY hamming, neighbor_id) AS INTEGER) AS rnk
       |      FROM d)
       |SELECT query_id, neighbor_id, hamming, rnk FROM r
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  private def sqlHammingMih(k: Int): String =
    s"""WITH $sqlSigCtes,
       |ch AS (SELECT vec_id, lo, hi, j,
       |        CASE WHEN j < 4 THEN (lo >> CAST(8 * j AS INT)) & 255
       |             ELSE (hi >> CAST(8 * (j - 4) AS INT)) & 255
       |        END AS cv
       |      FROM sig, (SELECT unnest(range(0, 8)) AS j) t),
       |cand AS (SELECT DISTINCT a.query_id, a.qlo, a.qhi,
       |        b.vec_id AS neighbor_id
       |      FROM (SELECT q.query_id, q.qlo, q.qhi, c.j, c.cv
       |            FROM qs q JOIN ch c ON c.vec_id = q.query_id) a
       |      JOIN ch b ON a.j = b.j AND a.cv = b.cv
       |        AND b.vec_id <> a.query_id),
       |d AS (SELECT c.query_id, c.neighbor_id,
       |        CAST(bit_count(xor(c.qlo, s.lo)) +
       |          bit_count(xor(c.qhi, s.hi)) AS INTEGER) AS hamming
       |      FROM cand c JOIN sig s ON s.vec_id = c.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, hamming,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY hamming, neighbor_id) AS INTEGER) AS rnk
       |      FROM d)
       |SELECT query_id, neighbor_id, hamming, rnk FROM r
       |WHERE rnk <= $k ORDER BY query_id, rnk""".stripMargin

  /** DuckDB CTE chain for the integer power iteration (u → Gram m → v0 →
    * 3 rescaled iterations ending at v3) — shared by
    * `emb_power_iteration_int` and `emb_project_top_int` so the two
    * mirrors cannot diverge (the Bpe sqlLearnCtes discipline). */
  private def sqlPowerCtes: String = {
    def iter(k: Int): String =
      s"""w$k AS (SELECT di, CAST(SUM(m.m * v${k - 1}.v) AS BIGINT) AS w
         |      FROM m JOIN v${k - 1} ON m.dj = v${k - 1}.dj GROUP BY di),
         |d$k AS (SELECT GREATEST(MAX(ABS(w)) // 1000000, 1) AS d FROM w$k),
         |v$k AS (SELECT di AS dj, CAST(CASE WHEN w < 0
         |        THEN -((-w) // d) ELSE w // d END AS BIGINT) AS v
         |      FROM w$k, d$k)""".stripMargin
    s"""u AS (SELECT vec_id,
       |        CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
       |          AS BIGINT) AS q,
       |        generate_subscripts(embedding, 1) - 1 AS i
       |      FROM embeddings),
       |m AS (SELECT a.i AS di, b.i AS dj, CAST(SUM(a.q * b.q) AS BIGINT) AS m
       |      FROM u a JOIN u b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |v0 AS (SELECT DISTINCT i AS dj, CAST(1000000 AS BIGINT) AS v FROM u),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}""".stripMargin
  }

  /** The distributed power-iteration pipeline (see
    * `emb_power_iteration_int`'s header comment for the scale shape):
    * Gram via a row-index explode with codegen'd products (r8 — dim rows
    * per vector through the aggregate hash, not dim² structs; Long
    * addition is commutative so cells are bit-identical to the struct
    * form), then 3 BIGINT matvec+rescale iterations with one bounded
    * driver sync each. Returns the final (dim, v) vector — dim-sized. */
  private def powerIterationRun(s: SparkSession, dir: String)
      : Seq[(Int, Long)] = {
    val e = emb(s, dir)
    val dim = e.select(size(col("embedding"))).first.getInt(0)
    val byDi = Tables.spread(e)
      .select(expr("transform(embedding, x -> " +
        "cast(floor(cast(x as double) * 1000 + 0.5) as bigint))").as("q"))
      .select(col("q"), explode(sequence(lit(0), lit(dim - 1))).as("di"))
      .select(col("di") +: (0 until dim).map(j =>
        (element_at(col("q"), col("di") + 1) *
          element_at(col("q"), lit(j + 1))).as(s"p$j")): _*)
      .groupBy("di")
      .agg(sum(col("p0")).as("m0"),
        (1 until dim).map(j => sum(col(s"p$j")).as(s"m$j")): _*)
    val gram = byDi
      .select(col("di"), posexplode(
        array((0 until dim).map(j => col(s"m$j")): _*)).as(Seq("dj", "m")))
      .cache() // reused by all 3 iterations; metadata-sized (dim² rows)
    var v: DataFrame = s.range(dim)
      .select(col("id").cast("int").as("dj"), lit(1000000L).as("v"))
    for (_ <- 1 to 3) {
      val w = gram.join(v, Seq("dj"))
        .groupBy("di").agg(sum(col("m") * col("v")).as("w"))
      val mx = w.agg(max(abs(col("w")))).first.getLong(0)
      val d = math.max(mx / 1000000L, 1L)
      v = w.select(col("di").as("dj"), expr(
        s"CAST(CASE WHEN w < 0 THEN -((-w) DIV $d) ELSE w DIV $d END" +
          " AS BIGINT)").as("v"))
    }
    val rows = v.select(col("dj").cast("int"), col("v")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq.sortBy(_._1)
    gram.unpersist(blocking = false)
    rows
  }

  /** Top direction per embeddings table for the APPLY-side query
    * (`emb_project_top_int`); `emb_power_iteration_int` itself never
    * reads this. */
  private val powerMemo = new Memo[Seq[(Int, Long)]]

  /** Shared oracle scaffolding: per-(vec,index) unnest with exact double
    * math, mirroring the Spark `zip_with`/`aggregate` fold. */
  private def sqlUnnest(filter: String): String =
    s"""u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
       |        generate_subscripts(embedding, 1) AS i
       |      FROM embeddings$filter),
       |n AS (SELECT vec_id, SUM(x*x) AS nsq FROM u GROUP BY vec_id)""".stripMargin

  val queries: Seq[Q] = Seq(

    // ---- binary-embedding ANN (sign quantization → Hamming space),
    //      the memory-bound production representation (64 dims → 8
    //      bytes): exact top-k baseline + multi-index hashing. See
    //      signSigs/sqlHammingTopk/sqlHammingMih below the queries
    //      list for the packing/chunking algebra. ----
    Q("ann_hamming_topk", Some(sqlHammingTopk(5))) { (s, dir) =>
      hammingTopK(emb(s, dir), k = 5)
    },

    // ---- multi-index hashing (Norouzi et al. 2012), the SCALE path:
    //      the 64-bit signature split into 8 disjoint 8-bit chunks,
    //      candidates = equijoin on (chunk index, chunk value) — by
    //      pigeonhole ANY pair at Hamming ≤ 7 shares an identical
    //      chunk, so near-duplicate recall is STRUCTURAL, not
    //      probabilistic (SimilaritySpec plants such pairs and pins
    //      rank-1 recovery); farther neighbors are found with
    //      chunk-collision probability, the standard MIH trade. Exact
    //      Hamming rank over candidates only. ----
    Q("ann_hamming_mih", Some(sqlHammingMih(5))) { (s, dir) =>
      hammingMihTopK(emb(s, dir), k = 5)
    },

    Q("ann_cosine_topk", Some(
      s"""WITH ${sqlUnnest("")},
         |q AS (SELECT * FROM u WHERE vec_id % 50 = 0),
         |d AS (SELECT q.vec_id AS qid, u.vec_id AS nid, SUM(q.x * u.x) AS dot
         |      FROM q JOIN u ON q.i = u.i AND q.vec_id <> u.vec_id
         |      GROUP BY qid, nid),
         |s AS (SELECT qid, nid, dot / (sqrt(nq.nsq) * sqrt(nn.nsq)) AS sim
         |      FROM d JOIN n nq ON nq.vec_id = qid JOIN n nn ON nn.vec_id = nid),
         |r AS (SELECT qid AS query_id, nid AS neighbor_id,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |          ORDER BY sim DESC, nid) AS INTEGER) AS rnk,
         |        ROUND(sim, 4) AS sim_r
         |      FROM s)
         |SELECT query_id, neighbor_id, rnk, sim_r FROM r
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)) { (s, dir) =>
      val e = emb(s, dir)
      bruteForceTopK(e.where(col("vec_id") % 50 === 0), e, 5)
    },

    Q("ann_lsh_topk", None) { (s, dir) =>
      val e = emb(s, dir)
      lshTopK(e.where(col("vec_id") % 50 === 0), e, 5)
    },

    // The SAME lshTopK bucket/probe/union code path under deterministic
    // integer hyperplanes and integer-quantized inputs, hash-matched
    // cell-exact against a generated DuckDB mirror — pins the bucketing
    // algebra itself (sign bits, bit packing, Hamming-1 probes, OR'd
    // tables, collision dedup, cosine rank). The Gaussian-plane flavor
    // above stays the no-oracle scale path, recall-gated in
    // SimilaritySpec.
    Q("ann_lsh_int", Some(sqlLshInt(planes = 8, tables = 2, k = 5))) {
      (s, dir) =>
      val eq = quantized1000(emb(s, dir))
      lshTopK(eq.where(col("vec_id") % 50 === 0), eq, 5,
        planes = 8, tables = 2, dim = 64,
        hyperplanes = Some(intPlanes(tables = 2, planes = 8, dim = 64)))
    },

    Q("ann_ivf_topk", None) { (s, dir) =>
      // training runs its jobs on its OWN read — see ann_ivf_int's
      // comment on shared-fragment execution corrupting the main QE
      val cents = centroidMemo(dir, "embeddings", "ivf-trained")(
        trainCentroids(emb(s, dir), k = 16, iters = 4, dim = 64))
      val e = emb(s, dir)
      ivfTopKTrained(cents, e.where(col("vec_id") % 50 === 0), e, 5)
    },

    // The SAME ivfTopKTrained cell-assign/probe/union code path under
    // fixed deterministic centroids (the 8 integer-quantized corpus
    // vectors vec_id < 8 — the build-once/query-many split with the
    // k-means training swapped for an engine-independent matrix),
    // hash-matched against a generated DuckDB mirror. Pins the IVF
    // query algebra itself; trainCentroids stays the no-oracle trained
    // path, recall-gated in SimilaritySpec. The 8x64 centroid collect is
    // the documented bounded driver sync (same as trainCentroids').
    Q("ann_ivf_int", Some(sqlIvfInt(nprobe = 3, k = 5))) { (s, dir) =>
      // memoized like ann_ivf_topk's trained centroids (same memo,
      // variant `int8`): without it every query CONSTRUCTION re-runs a
      // scan+sort job for an identical 8x64 constant, polluting each
      // bench iteration's measured cost. The collect runs on its OWN
      // read (not the `eq` instance the main query is built from):
      // executing a plan fragment shared with a to-be-returned
      // DataFrame corrupts that DataFrame's own QueryExecution under
      // Spark 4.1's attribute dedup (ATTRIBUTE_NOT_FOUND on the
      // self-join; write-path re-analysis masks it, collect()/toRdd on
      // the original QE hits it).
      val cents = int8Centroids(s, dir)
      val eq = quantized1000(emb(s, dir))
      ivfTopKTrained(cents, eq.where(col("vec_id") % 50 === 0), eq, 5,
        nprobe = 3)
    },

    // ---- the PERSISTED-POSTINGS query path (r16): assignment
    //      precomputed at ingest ([[ivfPostings]] — what the durable
    //      streaming IVF index stores, hash-bucketed by cell), ranked
    //      through the SAME ivfRank core as ann_ivf_int, whose oracle
    //      it shares VERBATIM — the decontaminate_bloom shared-SQL
    //      construction, so divergence between the trained and
    //      postings paths is impossible to hide. ----
    Q("ann_ivf_postings_int", Some(sqlIvfInt(nprobe = 3, k = 5))) { (s, dir) =>
      val cents = int8Centroids(s, dir)
      val eq = quantized1000(emb(s, dir))
      ivfTopKFromPostings(cents, eq.where(col("vec_id") % 50 === 0),
        ivfPostings(cents, eq), 5, nprobe = 3)
    },

    // Product quantization under the int plane: codebook = the first 16
    // quantized corpus vectors (engine-independent twin of a trained
    // codebook, same discipline as ann_ivf_int), 8 subspaces × 8 dims.
    // Fully distributed — the codebook is DATA broadcast into the
    // encode join, no driver sync at all. Integer squared errors, so
    // the DuckDB mirror is cell-exact.
    Q("emb_pq_int", Some(sqlPqInt(k = 16, m = 8, subDim = 8))) {
      (s, dir) =>
      val eq = quantized1000(emb(s, dir))
      // codebook on its OWN read (shared-fragment caveat above)
      val cb = quantized1000(emb(s, dir)).where(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("code"),
          explode(sequence(lit(0), lit(7))).as("m"), col("embedding"))
        .select(col("code"), col("m"),
          expr("slice(embedding, m * 8 + 1, 8)").as("cv"))
      pqEncode(eq, cb, m = 8, subDim = 8).orderBy("vec_id", "m")
    },

    // PQ asymmetric-distance search (ADC) — the payoff of emb_pq_int:
    // queries rank the WHOLE corpus in the compressed domain. Per query
    // the 8×16 lookup table ||q_sub − code||² is tiny and broadcast;
    // each corpus vector's approximate distance is then 8 LUT adds over
    // its codes — the linear scan every PQ system runs inside probed
    // cells (compose with ann_ivf_int's cells for IVF-PQ; registered
    // standalone so the algebra is oracle-pinned end-to-end). The
    // per-query top-k rank goes through the salted two-phase partialTopK
    // — no query ever windows the whole corpus on one task. ----
    Q("ann_pq_adc_int", Some(sqlPqAdcInt(cb = 16, m = 8, subDim = 8,
      k = 5))) { (s, dir) =>
      val eq = quantized1000(emb(s, dir))
      val cb = quantized1000(emb(s, dir)).where(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("code"),
          explode(sequence(lit(0), lit(7))).as("m"), col("embedding"))
        .select(col("code"), col("m"),
          expr("slice(embedding, m * 8 + 1, 8)").as("cv"))
      val codes = pqEncode(eq, cb, m = 8, subDim = 8)
        .select(col("vec_id"), col("m"), col("code"))
      // LUT on its own reads (shared-fragment caveat): ||q_sub - cv||²
      val lut = quantized1000(emb(s, dir))
        .where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"),
          explode(sequence(lit(0), lit(7))).as("m"), col("embedding"))
        .select(col("qid"), col("m"),
          expr("slice(embedding, m * 8 + 1, 8)").as("sv"))
        .join(quantized1000(emb(s, dir)).where(col("vec_id") < 16)
          .select(col("vec_id").cast("long").as("code"),
            explode(sequence(lit(0), lit(7))).as("m"), col("embedding"))
          .select(col("code"), col("m"),
            expr("slice(embedding, m * 8 + 1, 8)").as("cv")), Seq("m"))
        .select(col("qid"), col("m"), col("code"),
          expr("cast(array_l2sq(sv, cv) as long)").as("d"))
      val sums = codes.join(broadcast(lut), Seq("m", "code"))
        .where(col("qid") =!= col("vec_id"))
        .groupBy("qid", "vec_id")
        .agg(sum("d").as("adist"))
      val survivors = Sampling.partialTopK(sums, "qid",
        Seq(col("adist"), col("vec_id")), 5, Sampling.FanOut,
        saltCol = col("vec_id"))
      val w = Window.partitionBy("qid")
        .orderBy(col("adist"), col("vec_id"))
      survivors.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 5)
        .select(col("qid"), col("vec_id"), col("adist"),
          col("rnk").cast("int").as("rnk"))
        .orderBy("qid", "rnk")
    },

    // IVF-PQ — the r7-verdict task 7 composition and the index an
    // actual 100 TB ANN deployment runs: ann_ivf_int's coarse cells
    // prune the corpus to the nprobe probed cells, ann_pq_adc_int's
    // compressed-domain LUT scan ranks only those cells' codes. Both
    // twin indexes are the deterministic matrices their standalone
    // queries pin (first-8 centroids, first-16 codebook), so the full
    // composed algebra — assign, encode, probe, prune, ADC, rank — is
    // hash-matched end-to-end against one generated DuckDB mirror.
    // SimilaritySpec adds the recall floor vs exact int-plane L2 and
    // pins that pruning really prunes (candidates < corpus).
    Q("ann_ivfpq_int", Some(sqlIvfPqInt(cells = 8, cb = 16, m = 8,
      subDim = 8, nprobe = 3, k = 5))) { (s, dir) =>
      val cents = int8Centroids(s, dir)
      val eq = quantized1000(emb(s, dir))
      // codebook on its OWN read (shared-fragment caveat at ann_ivf_int)
      val cbk = quantized1000(emb(s, dir)).where(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("code"),
          explode(sequence(lit(0), lit(7))).as("m"), col("embedding"))
        .select(col("code"), col("m"),
          expr("slice(embedding, m * 8 + 1, 8)").as("cv"))
      ivfPqAdcTopK(eq.where(col("vec_id") % 50 === 0), eq, cents, cbk,
        k = 5, nprobe = 3)
    },

    // Two-stage retrieval — the pattern every production vector store
    // runs: the compressed-domain IVF-PQ scan over-fetches top-20
    // candidates (cheap, approximate — PQ reconstruction error can
    // mis-rank), then ONLY those <= 20·|queries| rows are re-ranked by
    // exact integer L2 against the full vectors. The rerank join
    // broadcasts the candidate list into one narrow probe of the
    // corpus (never a second scan per query) and the final window
    // ranks <= 20 rows per query. Mirror shares the IVF-PQ CTE chain.
    Q("ann_ivfpq_rerank_int", Some(sqlIvfPqRerank(cells = 8, cb = 16,
      m = 8, subDim = 8, nprobe = 3, kCand = 20, k = 5))) { (s, dir) =>
      val cents = int8Centroids(s, dir)
      val eq = quantized1000(emb(s, dir))
      val cbk = quantized1000(emb(s, dir)).where(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("code"),
          explode(sequence(lit(0), lit(7))).as("m"), col("embedding"))
        .select(col("code"), col("m"),
          expr("slice(embedding, m * 8 + 1, 8)").as("cv"))
      val cand = ivfPqAdcTopK(eq.where(col("vec_id") % 50 === 0), eq,
          cents, cbk, k = 20, nprobe = 3)
        .select(col("qid"), col("vec_id"))
      // exact rerank: candidates broadcast into one corpus probe for
      // the full vectors; query vectors broadcast the same way
      val qv = quantizedLong(emb(s, dir))
        .where(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("q").as("qq"))
      val rr = quantizedLong(emb(s, dir))
        .join(broadcast(cand), Seq("vec_id"))
        .join(broadcast(qv), Seq("qid"))
        .select(col("qid"), col("vec_id"),
          call_function("array_l2sq", col("qq"), col("q")).as("dist"))
      val w = Window.partitionBy("qid").orderBy(col("dist"), col("vec_id"))
      rr.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 5)
        .select(col("qid"), col("vec_id"), col("dist"),
          col("rnk").cast("int").as("rnk"))
        .orderBy("qid", "rnk")
    },

    // Cosine near-duplicate pairs over a deterministic subset; with
    // seed-42 gaussian vectors the similarities top out ≈0.32, so 0.25
    // marks the "suspiciously close" tail.
    Q("dedup_embedding_cosine", Some(
      s"""WITH ${sqlUnnest(" WHERE vec_id % 20 = 0")},
         |d AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.x * b.x) AS dot
         |      FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id
         |      GROUP BY vec_a, vec_b),
         |s AS (SELECT vec_a, vec_b, dot / (sqrt(na.nsq) * sqrt(nb.nsq)) AS sim
         |      FROM d JOIN n na ON na.vec_id = vec_a
         |             JOIN n nb ON nb.vec_id = vec_b)
         |SELECT vec_a, vec_b, ROUND(sim, 4) AS sim_r FROM s
         |WHERE sim >= 0.25 ORDER BY vec_a, vec_b""".stripMargin)) { (s, dir) =>
      val sub = withVec(emb(s, dir).where(col("vec_id") % 20 === 0))
      val a = sub.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("norm").as("na"))
      val b = sub.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("norm").as("nb"))
      a.join(b, col("vec_a") < col("vec_b"))
        .withColumn("sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .where(col("sim") >= 0.25)
        .select(col("vec_a"), col("vec_b"), round(col("sim"), 4).as("sim_r"))
        .orderBy("vec_a", "vec_b")
    },

    // Nearest-centroid assignment (the k-means E-step / cluster-labeling
    // pass a corpus-clustering pipeline runs at scale): fixed centroids
    // (vec_id < 8 — deterministic, engine-independent) broadcast against
    // one corpus scan, argmax cosine per vector with centroid-id
    // tie-break. The oracle recomputes every assignment in DuckDB, so the
    // whole broadcast-join + window-argmax path is hash-pinned.
    Q("emb_centroid_assign", Some(
      s"""WITH ${sqlUnnest("")},
         |c AS (SELECT * FROM u WHERE vec_id < 8),
         |d AS (SELECT c.vec_id AS cid, u.vec_id AS vid, SUM(c.x * u.x) AS dot
         |      FROM c JOIN u ON c.i = u.i GROUP BY cid, vid),
         |s AS (SELECT cid, vid, dot / (sqrt(nc.nsq) * sqrt(nv.nsq)) AS sim
         |      FROM d JOIN n nc ON nc.vec_id = cid
         |             JOIN n nv ON nv.vec_id = vid),
         |a AS (SELECT vid, cid,
         |        ROW_NUMBER() OVER (PARTITION BY vid
         |          ORDER BY sim DESC, cid) AS rk FROM s)
         |SELECT cid AS centroid_id, CAST(COUNT(*) AS BIGINT) AS n_assigned,
         |  MIN(vid) AS min_vec
         |FROM a WHERE rk = 1 GROUP BY cid ORDER BY cid""".stripMargin)) {
      (s, dir) =>
      val e = emb(s, dir)
      val c = withVec(e.where(col("vec_id") < 8))
        .select(col("vec_id").as("cid"), col("v").as("cv"),
          col("norm").as("cnorm"))
      val v = withVec(e)
      val w = Window.partitionBy("vec_id")
        .orderBy(col("sim").desc, col("cid"))
      v.crossJoin(broadcast(c))
        .withColumn("sim",
          dot(col("cv"), col("v")) / (col("cnorm") * col("norm")))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .groupBy(col("cid").as("centroid_id"))
        .agg(count(lit(1)).as("n_assigned"), min("vec_id").as("min_vec"))
        .orderBy("centroid_id")
    },

    // The k-means M-STEP as a query (pairing emb_centroid_assign's
    // E-step): per (cell, dim) member count, exact BIGINT coordinate
    // sum, and the new centroid coordinate in exact micro-units —
    // sign-outside-division so Spark's truncating DIV and DuckDB's
    // flooring // agree on negative sums (the power-iteration rule).
    // Assignment runs on the integer plane (argmax dot vs the first-8
    // twin centroids, lowest-cell ties — the ann_ivf_int convention)
    // and is computed INLINE on the same projection that carries the
    // quantized vector, so the whole M-step is one corpus scan + one
    // cells×dims-group aggregate: no join anywhere. ----
    Q("emb_centroid_update", Some(
      """WITH u AS (SELECT vec_id,
        |        CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
        |          AS BIGINT) AS q,
        |        generate_subscripts(embedding, 1) - 1 AS i
        |      FROM embeddings),
        |c AS (SELECT vec_id AS cid, q, i FROM u WHERE vec_id < 8),
        |ad AS (SELECT c.cid, u.vec_id AS vid,
        |        CAST(SUM(c.q * u.q) AS BIGINT) AS dot
        |      FROM c JOIN u ON c.i = u.i GROUP BY cid, vid),
        |asn AS (SELECT vid, cell FROM (
        |      SELECT vid, cid AS cell, ROW_NUMBER() OVER (PARTITION BY vid
        |        ORDER BY dot DESC, cid) AS rk FROM ad) WHERE rk = 1),
        |m AS (SELECT asn.cell, u.i AS dim, CAST(SUM(u.q) AS BIGINT) AS s,
        |        COUNT(*) AS n
        |      FROM u JOIN asn ON u.vec_id = asn.vid GROUP BY 1, 2)
        |SELECT CAST(cell AS INTEGER) AS cell, CAST(dim AS INTEGER) AS dim,
        |  CAST(n AS BIGINT) AS n_members, s AS sum_q,
        |  CAST(CASE WHEN s < 0 THEN -((-s * 1000000) // n)
        |    ELSE (s * 1000000) // n END AS BIGINT) AS mean_micro
        |FROM m ORDER BY cell, dim""".stripMargin)) { (s, dir) =>
      val centsL = int8Centroids(s, dir).map(_.map(_.toLong))
      val cm = typedLit(centsL)
      val dots = transform(cm, c => call_function("array_dot", c, col("q")))
      quantizedLong(emb(s, dir))
        .withColumn("cell",
          (array_position(dots, array_max(dots)) - 1).cast("int"))
        .select(col("cell"), posexplode(col("q")).as(Seq("dim", "qi")))
        .groupBy("cell", "dim")
        .agg(sum("qi").as("s"), count(lit(1)).as("n"))
        .select(col("cell"), col("dim").cast("int").as("dim"),
          col("n").as("n_members"), col("s").as("sum_q"),
          expr("CAST(CASE WHEN s < 0 THEN -((-s * 1000000) DIV n) " +
            "ELSE (s * 1000000) DIV n END AS BIGINT)").as("mean_micro"))
        .orderBy("cell", "dim")
    },

    // ---- CONVERGED k-means (the E-step/M-step pair above, iterated to
    //      a fixed point — the composition every clustering/curriculum
    //      pipeline actually runs): 6 exact-integer Lloyd steps with
    //      early exit on movement 0, final centroids in micro-units,
    //      per-cell member counts + exact integer inertia, and the
    //      iteration/movement accounting. The oracle unrolls all 6
    //      steps from one shared CTE generator; the fixed-point
    //      argument in kmeansTrain's Scaladoc makes the early-exiting
    //      loop provably equal to the unroll. SimilaritySpec pins
    //      loop-vs-single-step equality at cap=1 and true early-exit
    //      convergence on a separable crafted corpus. ----
    Q("emb_kmeans_converged", Some {
      val k = KmeansK
      val cap = KmeansCap
      s"""WITH ${sqlKmeansCtes(k, cap)},
         |fin AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members
         |      FROM a$cap GROUP BY cell),
         |iv AS (SELECT cell, CAST(SUM(dq * dq) AS BIGINT) AS inertia_q2
         |      FROM (SELECT a.cell,
         |          CASE WHEN c.c - u.q * 1000000 < 0
         |            THEN -((-(c.c - u.q * 1000000)) // 1000000)
         |            ELSE (c.c - u.q * 1000000) // 1000000 END AS dq
         |        FROM u JOIN a$cap a ON u.vec_id = a.vid
         |               JOIN c$cap c ON c.cell = a.cell AND c.dim = u.i)
         |      GROUP BY cell),
         |ni AS (SELECT CAST(CASE ${(1 to cap).map(j =>
                  s"WHEN (SELECT m FROM m$j) = 0 THEN $j").mkString(" ")}
         |        ELSE $cap END AS INTEGER) AS n_iters,
         |      (SELECT CAST(m AS BIGINT) FROM m$cap) AS last_move)
         |SELECT CAST(c.cell AS INTEGER) AS cell, CAST(c.dim AS INTEGER)
         |    AS dim, c.c AS centroid_micro,
         |  COALESCE(f.n_members, 0) AS n_members,
         |  COALESCE(iv.inertia_q2, 0) AS inertia_q2,
         |  ni.n_iters, ni.last_move
         |FROM c$cap c LEFT JOIN fin f USING (cell)
         |     LEFT JOIN iv USING (cell), ni
         |ORDER BY cell, dim""".stripMargin
    }) { (s, dir) =>
      val e = emb(s, dir)
      kmeansReport(e, kmeansMemo(dir, "embeddings", "kmeans")(
        kmeansTrain(e)))
    },

    // Symmetric int8 quantization (the memory-compression pass an ANN
    // index runs before serving: 64 floats -> 64 bytes + one scale).
    // Per vector: scale = max|x|/127, q_i = floor(x/scale + 0.5). Every
    // step is elementwise double math (no accumulation-order drift), so
    // the integer summaries hash-match exactly and only the scale needs
    // display rounding. floor(x+0.5) rounds halves up in both engines —
    // unlike round(), whose half mode differs for negatives.
    Q("emb_norm_quantize", Some(
      """WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
        |           FROM embeddings),
        |m AS (SELECT vec_id, MAX(ABS(x)) / 127 AS scale FROM u
        |      GROUP BY vec_id HAVING MAX(ABS(x)) > 0),
        |q AS (SELECT u.vec_id, scale,
        |        CAST(FLOOR(x / scale + 0.5) AS BIGINT) AS qx
        |      FROM u JOIN m ON u.vec_id = m.vec_id)
        |SELECT vec_id, CAST(SUM(qx) AS BIGINT) AS q_sum,
        |  MIN(qx) AS q_min, MAX(qx) AS q_max,
        |  CAST(COUNT(*) FILTER (WHERE ABS(qx) = 127) AS BIGINT) AS n_sat,
        |  ROUND(ANY_VALUE(scale), 6) AS scale_r
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin)) { (s, dir) =>
      // explode + window-max + groupBy, all on the vec_id key from one
      // keyed spread — one exchange. (A transform-lambda referencing a
      // projected per-vector scale would let CollapseProject inline the
      // max-fold into the lambda and recompute it per element.)
      val w = Window.partitionBy("vec_id")
      Tables.spread(emb(s, dir), col("vec_id"))
        .select(col("vec_id"),
          explode(expr("transform(embedding, x -> cast(x as double))"))
            .as("x"))
        .withColumn("scale", max(abs(col("x"))).over(w) / 127d)
        .where(col("scale") > 0)
        .withColumn("qx", floor(col("x") / col("scale") + 0.5).cast("long"))
        .groupBy("vec_id")
        .agg(sum("qx").as("q_sum"), min("qx").as("q_min"),
          max("qx").as("q_max"),
          sum(when(abs(col("qx")) === 127, 1L).otherwise(0L)).as("n_sat"),
          round(first("scale"), 6).as("scale_r"))
        .orderBy("vec_id")
    },

    // ---- upper-triangle covariance matrix (the PCA/whitening Gram
    //      pass, MLlib RowMatrix.computeCovariance's shape done
    //      declaratively): each row expands to its d(d+1)/2 pairwise
    //      products via a NESTED transform lambda — a narrow projection
    //      — and partial hash-aggregation folds them map-side, so the
    //      only exchange carries 2 080 groups no matter the corpus
    //      size. The naive alternative (unnest + self-join on vec_id)
    //      shuffles 64× the corpus; this plan shuffles O(d²) rows
    //      total. Mean-centering needs no second pass and no join:
    //      every (i,j) group sees each row exactly once, so SUM(xi)
    //      within the group IS the corpus dim-sum — the products and
    //      both centering sums ride ONE aggregate. Accumulation order
    //      is engine-specific → display rounding, same contract as
    //      emb_dim_stats. Both sides add `+ 0.0` after the rounding:
    //      DuckDB's ROUND preserves IEEE sign on a tiny negative input
    //      (ROUND(-1e-9, 4) = -0.0) while Spark's round goes through
    //      BigDecimal, which has no signed zero — `+ 0.0` collapses
    //      -0.0 to +0.0 on both engines so the bit-hash agrees. ----
    Q("emb_covariance", Some(
      """WITH u AS (SELECT vec_id,
        |             CAST(generate_subscripts(embedding, 1) - 1
        |               AS INTEGER) AS i,
        |             CAST(unnest(embedding) AS DOUBLE) AS x
        |           FROM embeddings)
        |SELECT a.i AS di, b.i AS dj,
        |  ROUND((SUM(a.x * b.x) - SUM(a.x) * SUM(b.x) / COUNT(*))
        |    / (COUNT(*) - 1), 4) + 0.0 AS cov_r
        |FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
        |GROUP BY a.i, b.i ORDER BY di, dj""".stripMargin)) { (s, dir) =>
      Tables.spread(emb(s, dir))
        .select(explode(flatten(expr(
          """transform(sequence(0, size(embedding) - 1), i ->
            |  transform(sequence(i, size(embedding) - 1), j ->
            |    struct(cast(i as int) as di, cast(j as int) as dj,
            |      cast(element_at(embedding, i + 1) as double) as xi,
            |      cast(element_at(embedding, j + 1) as double) as xj)))"""
            .stripMargin))).as("p"))
        .groupBy(col("p.di").as("di"), col("p.dj").as("dj"))
        .agg(sum(col("p.xi") * col("p.xj")).as("sxy"),
          sum("p.xi").as("sxi"), sum("p.xj").as("sxj"),
          count(lit(1)).as("n"))
        .select(col("di"), col("dj"),
          (round((col("sxy") - col("sxi") * col("sxj") / col("n")) /
            (col("n") - 1), 4) + lit(0.0)).as("cov_r"))
        .orderBy("di", "dj")
    },

    // Per-dimension corpus statistics (the feature-normalization /
    // whitening pre-pass): one explode + one 64-group aggregate. min/max
    // are elementwise-exact; mean/std accumulate in engine-specific order
    // so they carry display rounding. Group key = dimension — 64-way
    // parallel, map-side partial aggregation, one exchange.
    Q("emb_dim_stats", Some(
      """WITH u AS (SELECT CAST(generate_subscripts(embedding, 1) - 1
        |             AS INTEGER) AS dim,
        |             CAST(unnest(embedding) AS DOUBLE) AS x
        |           FROM embeddings)
        |SELECT dim, COUNT(*) AS n, ROUND(AVG(x), 4) AS mean_r,
        |  ROUND(STDDEV_SAMP(x), 4) AS std_r, MIN(x) AS x_min,
        |  MAX(x) AS x_max
        |FROM u GROUP BY dim ORDER BY dim""".stripMargin)) { (s, dir) =>
      unnestDims(Tables.spread(emb(s, dir)))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"), round(avg("x"), 4).as("mean_r"),
          round(stddev_samp("x"), 4).as("std_r"),
          min("x").as("x_min"), max("x").as("x_max"))
        .orderBy("dim")
    },

    // ---- per-dimension min-max scaling to uint8, MATERIALIZED (the
    //      apply step paired with emb_dim_stats, like mix_weights →
    //      apply_mix). Min-max (not mean/std) deliberately: MIN/MAX are
    //      accumulation-order-INDEPENDENT, so the scaled byte is the
    //      same IEEE double in both engines and the output is exact
    //      integers — no display-rounding tolerance anywhere. Stats
    //      come from the FULL corpus; the materialized slice is the
    //      deterministic vec_id % 20 subset (bounded output, pushed
    //      to the scan). Scale shape: one 64-way keyed aggregate; the
    //      64-row stats frame broadcast-joins back; half-up quantize
    //      matches quantized1000's floor(v + 0.5). ----
    Q("emb_minmax_quantize", Some(
      """WITH u AS (SELECT vec_id,
        |             CAST(generate_subscripts(embedding, 1) - 1
        |               AS INTEGER) AS dim,
        |             CAST(unnest(embedding) AS DOUBLE) AS x
        |           FROM embeddings),
        |s AS (SELECT dim, MIN(x) AS xmin, MAX(x) AS xmax
        |      FROM u GROUP BY dim)
        |SELECT vec_id, u.dim,
        |  CAST(FLOOR(CASE WHEN xmax > xmin
        |    THEN (x - xmin) / (xmax - xmin) * 255 ELSE 0 END + 0.5)
        |    AS INTEGER) AS q
        |FROM u JOIN s ON u.dim = s.dim
        |WHERE vec_id % 20 = 0
        |ORDER BY vec_id, u.dim""".stripMargin)) { (s, dir) =>
      val stats = unnestDims(Tables.spread(emb(s, dir)))
        .groupBy("dim")
        .agg(min("x").as("xmin"), max("x").as("xmax"))
      unnestDims(emb(s, dir).where(col("vec_id") % 20 === 0))
        .join(broadcast(stats), "dim")
        .select(col("vec_id"), col("dim"),
          floor(when(col("xmax") > col("xmin"),
            (col("x") - col("xmin")) / (col("xmax") - col("xmin")) * 255)
            .otherwise(0d) + 0.5).cast("int").as("q"))
        .orderBy("vec_id", "dim")
    },

    // ---- dominant principal direction by POWER ITERATION on the
    //      integer plane (the PCA/whitening top component a corpus
    //      pipeline extracts before projection pruning). The heavy
    //      distributed step is the uncentered Gram matrix M = sum q qᵀ —
    //      ONE corpus aggregate with dim² fan-out per row (the
    //      emb_covariance discipline); the 3 unrolled iterations then
    //      act on metadata-sized frames (dim² matrix × dim vector) with
    //      one bounded driver sync per iteration for the rescale
    //      denominator — the MLlib driver-sync shape, like
    //      trainCentroids. Every step is integer-exact: quantized
    //      inputs, BIGINT matvec (|w| <= 64·1.4e8·2e6 < 2^63), and the
    //      rescale divides |w| by d = max(maxabs // 1e6, 1) with the
    //      sign reapplied OUTSIDE the division — Spark DIV truncates
    //      toward zero while DuckDB // floors, so negative dividends
    //      never touch either. ----
    Q("emb_power_iteration_int", Some(
      s"""WITH $sqlPowerCtes
         |SELECT CAST(dj AS INTEGER) AS dim, v FROM v3 ORDER BY dim"""
        .stripMargin)) { (s, dir) =>
      // NOT memoized, unlike emb_project_top_int's consumption of the
      // same pipeline: THIS query's deliverable is the training itself,
      // so the bench must time it honestly on every pass (the
      // text_bpe_merges convention).
      import s.implicits._
      powerIterationRun(s, dir).toDF("dim", "v").orderBy("dim")
    },

    // ---- "all-but-the-top" projection (Mu & Viswanath 2018,
    //      arXiv:1702.01417 — removing the dominant direction improves
    //      embedding isotropy): every vector's projection onto the
    //      power-iteration top direction, plus the residual components,
    //      all BIGINT-exact. Division-free residual: with vv = v·v and
    //      proj = q·v, the residual scaled by vv is
    //      r_i·vv = q_i·vv − proj·v_i — exact integers (bounds: |q|≤4e3,
    //      |v|≤2e6, vv≤64·4e12 ⇒ |q_i·vv| < 2^61), so no rounding ever
    //      nears the hash. The top direction is memoized per table
    //      (build-once/apply-many, the ann_ivf centroid discipline —
    //      honest-cost training stays emb_power_iteration_int's line);
    //      the apply pass is ONE narrow corpus projection with the
    //      dim-vector compiled in as a literal, exploded per dim for the
    //      oracle-able output on the vec_id % 50 slice. ----
    Q("emb_project_top_int", Some(
      s"""WITH $sqlPowerCtes,
         |vv AS (SELECT CAST(SUM(v*v) AS BIGINT) AS vv FROM v3),
         |qq AS (SELECT vec_id, i AS dim, q FROM u WHERE vec_id % 50 = 0),
         |pr AS (SELECT qq.vec_id, CAST(SUM(qq.q * v3.v) AS BIGINT) AS proj
         |      FROM qq JOIN v3 ON qq.dim = v3.dj GROUP BY qq.vec_id)
         |SELECT qq.vec_id, CAST(qq.dim AS INTEGER) AS dim, pr.proj,
         |  CAST(qq.q * vv.vv - pr.proj * v3.v AS BIGINT) AS r_num
         |FROM qq JOIN pr ON qq.vec_id = pr.vec_id
         |  JOIN v3 ON qq.dim = v3.dj
         |  CROSS JOIN vv
         |ORDER BY qq.vec_id, dim""".stripMargin)) { (s, dir) =>
      val vec = powerMemo(dir, "embeddings", "power-top")(
        powerIterationRun(s, dir))
      val v = vec.sortBy(_._1).map(_._2)
      val vv = v.map(x => x * x).sum
      val vlit = typedLit(v)
      quantizedLong(emb(s, dir))
        .where(col("vec_id") % 50 === 0)
        .withColumn("proj", call_function("array_dot", col("q"), vlit))
        .select(col("vec_id"), col("proj"),
          posexplode(col("q")).as(Seq("dim", "qi")))
        .select(col("vec_id"), col("dim").cast("int").as("dim"),
          col("proj"),
          (col("qi") * lit(vv) -
            col("proj") * element_at(vlit, col("dim") + 1)).as("r_num"))
        .orderBy("vec_id", "dim")
    },

    // ---- SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    //      dedup scoped to clusters. Cluster = the `label` column (the
    //      engine-independent stand-in for a trained k-means partition,
    //      same discipline as ann_ivf_int's fixed centroids); within a
    //      cluster, a vector is dropped when a smaller-id cluster-mate
    //      sits above the cosine gate (keep-min survivor rule, as
    //      dedup_exact). The published algorithm's cost model is
    //      preserved: candidate pairs come ONLY from a label equijoin —
    //      per-cluster quadratic, never corpus-quadratic, and k grows
    //      with the corpus so cluster size stays bounded. All math runs
    //      on the integer-quantized plane: cos >= 0.35 is decided as
    //      dot>0 AND dot^2 * 10000 >= 1225 * |a|^2 * |b|^2 — pure BIGINT
    //      cross-multiplication, no sqrt, no division, no float fold
    //      order (max |dot| ~ 1.8e7 keeps dot^2*10^4 < 2^63). The gate
    //      sits at 0.35 because the seed-42 synthetic corpus tops out at
    //      cos ~ 0.475 — no true near-dups exist to find. ----
    Q("dedup_semantic_int", Some(
      """WITH u AS (SELECT vec_id, label,
        |        CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5)
        |          AS BIGINT) AS q,
        |        generate_subscripts(embedding, 1) AS i
        |      FROM embeddings),
        |n AS (SELECT vec_id, CAST(SUM(q*q) AS BIGINT) AS nsq
        |      FROM u GROUP BY vec_id),
        |d AS (SELECT a.label, a.vec_id AS a_id, b.vec_id AS b_id,
        |        CAST(SUM(a.q * b.q) AS BIGINT) AS dot
        |      FROM u a JOIN u b ON a.label = b.label AND a.i = b.i
        |        AND a.vec_id < b.vec_id
        |      GROUP BY 1, 2, 3),
        |f AS (SELECT d.label, a_id, b_id, dot FROM d
        |      JOIN n na ON a_id = na.vec_id
        |      JOIN n nb ON b_id = nb.vec_id
        |      WHERE dot > 0 AND dot*dot*10000 >= 1225*na.nsq*nb.nsq)
        |SELECT label, b_id AS drop_id, MIN(a_id) AS keeper_id,
        |  ARG_MIN(dot, a_id) AS dot_keeper
        |FROM f GROUP BY 1, 2 ORDER BY drop_id""".stripMargin)) { (s, dir) =>
      val q = emb(s, dir).select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> " +
            "cast(floor(cast(x as double) * 1000 + 0.5) as bigint))")
            .as("qv"))
        .withColumn("nsq", expr("array_dot(qv, qv)"))
      val a = q.select(col("label"), col("vec_id").as("a_id"),
        col("qv").as("qa"), col("nsq").as("na"))
      val b = q.select(col("label"), col("vec_id").as("b_id"),
        col("qv").as("qb"), col("nsq").as("nb"))
      a.join(b, Seq("label")).where(col("a_id") < col("b_id"))
        .withColumn("dot", expr("array_dot(qa, qb)"))
        .where(col("dot") > 0 &&
          col("dot") * col("dot") * lit(10000L) >=
            lit(1225L) * col("na") * col("nb"))
        .groupBy("label", "b_id")
        .agg(min("a_id").as("keeper_id"),
          min_by(col("dot"), col("a_id")).as("dot_keeper"))
        .select(col("label"), col("b_id").as("drop_id"),
          col("keeper_id"), col("dot_keeper"))
        .orderBy("drop_id")
    })
}
