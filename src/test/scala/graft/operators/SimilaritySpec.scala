package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Similarity search: brute-force top-k against a driver-side oracle on a
  * small random corpus, and the LSH variant's results must be a subset of
  * the same-bucket brute-force ranking with identical similarity values.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16

  private lazy val vectors: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(7)
    (0L until 40L).map(i => i -> Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  private lazy val corpus: DataFrame =
    vectors.toDF("vec_id", "embedding")

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0d; var na = 0d; var nb = 0d; var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  test("brute-force cosine top-k matches the driver-side oracle") {
    val queries = corpus.where(col("vec_id") < 3)
    val got = Similarity.bruteForceTopK(queries, corpus, 5).collect()
      .map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val byId = vectors.toMap
    for (q <- 0L until 3L) {
      val expect = vectors.filter(_._1 != q)
        .map { case (id, v) => id -> cosine(byId(q), v) }
        .sortBy { case (id, sim) => (-sim, id) }
        .take(5).map(_._1)
      val gotIds = (1 to 5).map(r => got((q, r)))
      assert(gotIds == expect, s"query $q: got $gotIds expected $expect")
    }
  }

  test("IVF top-k: sims agree with brute-force; ranks contiguous") {
    val queries = corpus.where(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(queries, corpus, 40).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val ivf = Similarity.ivfTopK(queries, corpus, 5, centroids = 8,
      nprobe = 2, dim = dim).collect()
    assert(ivf.nonEmpty, "IVF returned nothing — cell assignment broke")
    ivf.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(bf.contains(key))
      assert(math.abs(bf(key) - r.getDouble(3)) < 1e-9)
    }
    ivf.groupBy(_.getLong(0)).values.foreach { rows =>
      val ranks = rows.map(_.getInt(2)).sorted.toSeq
      assert(ranks == (1 to ranks.size))
    }
  }

  /** Clustered corpus for recall gates: 10 tight clusters × 10 points —
    * every vector's true top-5 are cluster-mates at cosine ≈ 0.98, so an
    * ANN method with working pruning must find them. */
  private lazy val clustered: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(11)
    val centers = IndexedSeq.fill(10)(Array.fill(dim)(rnd.nextGaussian()))
    for (c <- 0 until 10; j <- 0 until 10) yield
      (c * 10 + j).toLong ->
        centers(c).map(x => (x + 0.15 * rnd.nextGaussian()).toFloat)
  }

  private lazy val clusteredDF: DataFrame = clustered.toDF("vec_id", "embedding")

  /** Mean recall@5 of `got` (query -> neighbors) vs brute-force top-5. */
  private def meanRecallAt5(queryIds: Seq[Long],
      got: Map[Long, Set[Long]]): Double = {
    val byId = clustered.toMap
    val recalls = queryIds.map { q =>
      val truth = clustered.filter(_._1 != q)
        .map { case (id, v) => id -> cosine(byId(q), v) }
        .sortBy { case (id, sim) => (-sim, id) }
        .take(5).map(_._1).toSet
      got.getOrElse(q, Set.empty).intersect(truth).size / 5.0
    }
    recalls.sum / recalls.size
  }

  test("LSH multi-probe recall@5 >= 0.9 vs brute force on clustered corpus") {
    val queryIds = (0 until 10).map(c => (c * 10).toLong)
    val queries = clusteredDF.where(col("vec_id") % 10 === 0)
    val got = Similarity.lshTopK(queries, clusteredDF, 5, planes = 8,
        tables = 2, dim = dim).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    val recall = meanRecallAt5(queryIds, got)
    assert(recall >= 0.9, s"LSH recall@5 = $recall < 0.9")
  }

  test("trained IVF recall@5 >= 0.9 vs brute force on clustered corpus") {
    val queryIds = (0 until 10).map(c => (c * 10).toLong)
    val queries = clusteredDF.where(col("vec_id") % 10 === 0)
    val got = Similarity.ivfTopK(queries, clusteredDF, 5, centroids = 12,
        nprobe = 3, dim = dim).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    val recall = meanRecallAt5(queryIds, got)
    assert(recall >= 0.9, s"IVF recall@5 = $recall < 0.9")
  }

  test("trained centroids are unit-norm and separate a clustered corpus") {
    val cents = Similarity.trainCentroids(clusteredDF, k = 12, iters = 4,
      dim = dim)
    assert(cents.size == 12)
    cents.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9, s"centroid norm $n != 1")
    }
  }

  /** Recall on the REAL testdata distribution (sf0.01 embeddings: seeded
    * isotropic gaussians). This is the adversarial shape for ANN: with no
    * cluster structure, a query's true top-5 sit at cosine ≈ 0.3 — barely
    * above the bulk — so bucket collision probability, and therefore
    * recall, is bound by the candidate-scan fraction (measured sweep:
    * recall ≈ 1.5× scan fraction across LSH/IVF settings; e.g. 8-plane
    * 2-table multi-probe scans ~14% of the corpus → recall 0.24). The
    * clustered-corpus gates above verify the pruning logic; these pin the
    * real-distribution operating points so a regression on the actual
    * data shape fails the suite. Everything is seeded/deterministic, so
    * the gates sit just under the measured values (0.24 / 0.48 / 0.88 /
    * 0.78), tight enough that any bucketing or probe regression trips. */
  private def realRecallAt5(
      run: (DataFrame, DataFrame) => DataFrame): Double = {
    val e = graft.Tables.load(spark, sf01Dir, "embeddings")
    val q = e.where(col("vec_id") % 50 === 0)
    val truth = Similarity.bruteForceTopK(q, e, 5).collect()
      .groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val got = run(q, e).collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val rs = truth.map { case (k, t) =>
      got.getOrElse(k, Set.empty[Long]).intersect(t).size / 5.0 }
    rs.sum / rs.size
  }

  test("real-distribution recall@5 at the registered operating points " +
      "(LSH 8 planes x 2 tables; IVF 16 cells nprobe 4)") {
    val lsh = realRecallAt5(Similarity.lshTopK(_, _, 5))
    assert(lsh >= 0.2, s"LSH real-data recall@5 = $lsh < 0.2 " +
      "(measured 0.24 at these params — bucketing/probe regression)")
    val ivf = realRecallAt5(Similarity.ivfTopK(_, _, 5))
    assert(ivf >= 0.44, s"IVF real-data recall@5 = $ivf < 0.44 " +
      "(measured 0.48 at these params — training/probe regression)")
  }

  test("real-distribution recall@5 recovers with index budget " +
      "(LSH 6 planes x 8 tables; IVF nprobe 8)") {
    val lsh = realRecallAt5(
      Similarity.lshTopK(_, _, 5, planes = 6, tables = 8))
    assert(lsh >= 0.8, s"high-budget LSH real-data recall@5 = $lsh < 0.8 " +
      "(measured 0.88 — OR'd-table union or multi-probe regression)")
    val ivf = realRecallAt5(Similarity.ivfTopK(_, _, 5, nprobe = 8))
    assert(ivf >= 0.7, s"high-budget IVF real-data recall@5 = $ivf < 0.7 " +
      "(measured 0.78 — nprobe cell-union regression)")
  }

  test("oracle-pinned integer-plane LSH (ann_lsh_int) carries a recall " +
      "floor at its registered operating point") {
    // mirror the registered query exactly: quantized inputs, intPlanes
    val e = graft.Tables.load(spark, sf01Dir, "embeddings")
    val eq = e.select(col("vec_id"), expr("transform(embedding, " +
      "x -> cast(floor(cast(x as double) * 1000 + 0.5) as double))")
      .as("embedding"))
    val q = eq.where(col("vec_id") % 50 === 0)
    val truth = Similarity.bruteForceTopK(q, eq, 5).collect()
      .groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val got = Similarity.lshTopK(q, eq, 5, planes = 8, tables = 2,
        dim = 64, hyperplanes = Some(
          Similarity.intPlanes(tables = 2, planes = 8, dim = 64)))
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
    val rs = truth.map { case (k, t) =>
      got.getOrElse(k, Set.empty[Long]).intersect(t).size / 5.0 }
    val recall = rs.sum / rs.size
    info(s"int-plane LSH real-data recall@5 = $recall")
    assert(recall >= 0.2, s"int-plane LSH recall@5 = $recall < 0.2 " +
      "(measured 0.26 at these params) — the oracle-pinned path " +
      "regressed on the recall axis, not just the algebra one")
  }

  test("LSH top-k similarities agree with brute-force where pairs overlap") {
    val queries = corpus.where(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(queries, corpus, 40).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val lsh = Similarity.lshTopK(queries, corpus, 5, planes = 4, dim = dim)
      .collect()
    assert(lsh.nonEmpty, "LSH returned nothing — bucketing broke")
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(bf.contains(key))
      assert(math.abs(bf(key) - r.getDouble(3)) < 1e-9,
        s"sim mismatch for $key")
    }
    // ranks within each query are 1..n without gaps
    lsh.groupBy(_.getLong(0)).values.foreach { rows =>
      val ranks = rows.map(_.getInt(2)).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"non-contiguous ranks: $ranks")
    }
  }

  test("emb_norm_quantize: int8 range respected, saturation marked, " +
      "and dequantized values reconstruct within scale/2") {
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val rows = graft.SparkEntry.queries("emb_norm_quantize")(spark, sfDir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.nonEmpty)
    rows.values.foreach { case (_, qMin, qMax, nSat) =>
      assert(qMin >= -127 && qMax <= 127, "quantized value out of int8 range")
      assert(nSat >= 1, "max-|x| element must quantize to exactly ±127")
    }
    // independent reconstruction check on a few vectors; skip all-zero
    // vectors (the query's scale > 0 filter drops them, and dividing by
    // their zero scale would NaN the replay if fixtures ever change)
    e.where(col("vec_id") < 5).collect().foreach { r =>
      val xs = r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)
      val scale = xs.map(math.abs).max / 127
      if (scale == 0) ()
      else {
      val qSum = xs.map(x => math.floor(x / scale + 0.5).toLong).sum
      assert(rows(r.getLong(r.fieldIndex("vec_id")))._1 == qSum,
        s"q_sum mismatch for vec ${r.getLong(0)}")
      xs.foreach { x =>
        val q = math.floor(x / scale + 0.5)
        assert(math.abs(q * scale - x) <= scale / 2 + 1e-12,
          "reconstruction error exceeds scale/2")
      }
      }
    }
  }

  test("emb_dim_stats: one row per dimension, n = corpus size, " +
      "min <= mean <= max") {
    val n = graft.Tables.load(spark, sfDir, "embeddings").count()
    val rows = graft.SparkEntry.queries("emb_dim_stats")(spark, sfDir)
      .collect()
    assert(rows.length == 64)
    assert(rows.map(_.getInt(0)).sorted.toSeq == (0 until 64))
    rows.foreach { r =>
      assert(r.getLong(1) == n)
      assert(r.getDouble(4) <= r.getDouble(2) && r.getDouble(2) <= r.getDouble(5),
        s"dim ${r.getInt(0)}: mean outside [min, max]")
      assert(r.getDouble(3) > 0, "zero std on gaussian data")
    }
  }

  test("emb_minmax_quantize: bytes in [0,255], driver replay of the " +
      "exact min-max scaling agrees bit-for-bit") {
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val rows = graft.SparkEntry.queries("emb_minmax_quantize")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(rows.nonEmpty)
    assert(rows.values.forall(q => q >= 0 && q <= 255))
    // exact replay: min/max are order-independent, the scale chain is a
    // fixed IEEE op sequence — equality is exact, no tolerance
    val all = e.collect().map(r => r.getLong(r.fieldIndex("vec_id")) ->
      r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble))
    val dims = all.head._2.length
    val mins = (0 until dims).map(d => all.map(_._2(d)).min)
    val maxs = (0 until dims).map(d => all.map(_._2(d)).max)
    for ((id, xs) <- all if id % 20 == 0; d <- 0 until dims) {
      val expect =
        if (maxs(d) > mins(d))
          math.floor((xs(d) - mins(d)) / (maxs(d) - mins(d)) * 255 + 0.5).toInt
        else 0
      val got = rows.get((id, d))
      assert(got.contains(expect),
        s"vec $id dim $d: ${got.fold("row missing")(_.toString)} != $expect")
    }
  }

  test("emb_pq_int: codebook vectors self-encode with zero error; every " +
      "vector gets all 8 subspace codes in [0,16)") {
    val rows = graft.SparkEntry.queries("emb_pq_int")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // complete code assignment, codes bounded
    val perVec = rows.groupBy(_._1)
    perVec.values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq == (0L to 7L),
        "each vector must carry exactly one code per subspace")
    }
    assert(rows.forall(r => r._3 >= 0 && r._3 < 16))
    assert(rows.forall(_._4 >= 0), "squared error cannot be negative")
    // a codebook member's nearest code in every subspace is itself,
    // at distance exactly zero (ties broken toward the lowest code
    // cannot beat an exact match)
    rows.filter(_._1 < 16).foreach { case (vid, m, code, err) =>
      assert(err == 0L && code == vid,
        s"codebook vec $vid subspace $m: code=$code err=$err")
    }
  }

  test("ann_pq_adc_int: 5 ranked rows per query and a recall floor " +
      "against exact int-plane L2 (random gaussians are PQ's worst " +
      "case and the 16-point codebook is untrained — the twin pins the " +
      "ADC algebra; retrieval quality rises with a trained codebook)") {
    val rows = graft.SparkEntry.queries("ann_pq_adc_int")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.values.foreach { g =>
      assert(g.map(_._4).sorted.toSeq == (1 to 5), "exactly ranks 1..5")
      assert(g.sortBy(_._4).map(_._3).sliding(2).forall {
        case Array(a, b) => a <= b; case _ => true
      }, "adist must be non-decreasing in rank")
    }
    // exact int-plane L2 top-5 per query, computed locally
    val all = graft.Tables.load(spark, sfDir, "embeddings")
      .collect().map { r =>
        r.getLong(r.fieldIndex("vec_id")) ->
          r.getSeq[Float](r.fieldIndex("embedding"))
            .map(x => math.floor(x.toDouble * 1000 + 0.5)).toArray
      }.toMap
    val recalls = byQ.map { case (q, g) =>
      val qv = all(q)
      val exact = all.iterator.filter(_._1 != q).map { case (i, v) =>
        (v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.toSeq.sortBy(p => (p._1, p._2)).take(5).map(_._2).toSet
      g.map(_._2).count(exact).toDouble / 5
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.1, f"ADC mean recall@5 $mean%.2f below floor")
  }

  test("ann_ivfpq_int: every neighbor lies in a probed cell (pruning is " +
      "real), ranks contiguous, and a recall floor vs exact int-plane " +
      "L2 (floor sits under ADC's because the 3-of-8 cell prune scans " +
      "~3/8 of an unclustered corpus; the hash-matched oracle pins the " +
      "algebra, this pins the retrieval axes)") {
    val rows = graft.SparkEntry.queries("ann_ivfpq_int")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.values.foreach { g =>
      assert(g.map(_._4).sorted.toSeq == (1 to g.size) && g.size <= 5,
        "contiguous ranks 1..k")
      assert(g.sortBy(_._4).map(_._3).sliding(2).forall {
        case Array(a, b) => a <= b; case _ => true
      }, "adist must be non-decreasing in rank")
    }
    // local replay of the coarse index: centroids = quantized vecs 0..7,
    // cell = argmax dot (lowest cell on ties), probes = top-3 cells
    val vecs = graft.Tables.load(spark, sfDir, "embeddings")
      .collect().map { r =>
        r.getLong(r.fieldIndex("vec_id")) ->
          r.getSeq[Float](r.fieldIndex("embedding"))
            .map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray
      }.toMap
    val cents = (0L until 8L).map(vecs)
    def dots(v: Array[Long]): IndexedSeq[Long] =
      cents.map(c => c.indices.map(i => c(i) * v(i)).sum)
    def cellOf(v: Array[Long]): Int = {
      val d = dots(v)
      d.zipWithIndex.maxBy { case (x, i) => (x, -i) }._2
    }
    def probesOf(v: Array[Long]): Set[Int] =
      dots(v).zipWithIndex.sortBy { case (x, i) => (-x, i) }
        .take(3).map(_._2).toSet
    for ((q, g) <- byQ; (_, nid, _, _) <- g)
      assert(probesOf(vecs(q)).contains(cellOf(vecs(nid))),
        s"query $q: neighbor $nid outside the probed cells — the cell " +
          "prune leaked")
    val recalls = byQ.map { case (q, g) =>
      val qv = vecs(q)
      val exact = vecs.iterator.filter(_._1 != q).map { case (i, v) =>
        (v.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, i)
      }.toSeq.sortBy(p => (p._1, p._2)).take(5).map(_._2).toSet
      g.map(_._2).count(exact).toDouble / 5
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF-PQ mean recall@5 = $mean%.2f")
    assert(mean >= 0.05, f"IVF-PQ mean recall@5 $mean%.2f below floor")
  }

  test("IVF-PQ with TRAINED coarse cells recovers cluster-mates on the " +
      "clustered corpus (the deployed configuration: trained quantizer + " +
      "the composed prune/ADC path; the _int twin pins the algebra, this " +
      "pins retrieval with a real index)") {
    val queryIds = (0 until 10).map(c => (c * 10).toLong)
    val queries = clusteredDF.where(col("vec_id") % 10 === 0)
    val cents = Similarity.trainCentroids(clusteredDF, k = 12, iters = 4,
      dim = dim)
    // codebook: first 16 corpus vectors split 4 subspaces x 4 dims (the
    // untrained-codebook twin convention at this spec's dim = 16)
    val cbk = clusteredDF.where(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("code"),
        explode(sequence(lit(0), lit(3))).as("m"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .select(col("code"), col("m"),
        expr("slice(e, m * 4 + 1, 4)").as("cv"))
    val got = Similarity.ivfPqAdcTopK(queries, clusteredDF, cents, cbk,
        k = 5, nprobe = 3, m = 4, subDim = 4).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }
    // ADC distances are approximate (PQ reconstruction error), so gate
    // on cluster-mate recovery rather than exact top-5 identity: with
    // tight clusters every true neighbor is a cluster-mate, and the
    // trained cells must route query and mates to the same probe set
    val recalls = queryIds.map { q =>
      val mates = ((q / 10) * 10 until (q / 10) * 10 + 10)
        .filter(_ != q).toSet
      got.getOrElse(q, Set.empty).count(mates).toDouble /
        math.min(5, mates.size)
    }
    val mean = recalls.sum / recalls.size
    info(f"trained IVF-PQ cluster-mate recall@5 = $mean%.2f")
    assert(mean >= 0.8, f"trained IVF-PQ recall $mean%.2f < 0.8 — the " +
      "trained-cell + ADC composition stopped routing clusters together")
  }

  test("emb_covariance: full 2080-entry driver replay within rounding " +
      "tolerance; diagonal non-negative") {
    val got = graft.SparkEntry.queries("emb_covariance")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    val vecs = graft.Tables.load(spark, sfDir, "embeddings")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = vecs.length
    val d = vecs.head.length
    assert(got.size == d * (d + 1) / 2)
    for (i <- 0 until d; j <- i until d) {
      val sxy = vecs.map(v => v(i) * v(j)).sum
      val si = vecs.map(_(i)).sum
      val sj = vecs.map(_(j)).sum
      val cov = (sxy - si * sj / n) / (n - 1)
      assert(math.abs(got((i, j)) - cov) < 5.1e-5,
        s"cov($i,$j): got ${got((i, j))}, replay $cov")
      if (i == j) assert(got((i, j)) >= 0, s"negative variance at $i")
    }
  }

  /** Quantized plane shared by the power-iteration and SemDeDup replays:
    * q = floor(x*1000 + 0.5) as Long — the exact arithmetic both queries
    * and their DuckDB mirrors use. */
  private def quantized(dir: String): Array[(Long, Int, Array[Long])] =
    graft.Tables.load(spark, dir, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(x =>
          math.floor(x.toDouble * 1000 + 0.5).toLong).toArray))

  test("emb_power_iteration_int: exact Long replay of the Gram aggregate " +
      "and all 3 driver-synced rescale iterations") {
    val got = graft.SparkEntry.queries("emb_power_iteration_int")(spark, sfDir)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val vecs = quantized(sfDir).map(_._3)
    val d = vecs.head.length
    val m = Array.ofDim[Long](d, d)
    for (v <- vecs; i <- 0 until d; j <- 0 until d) m(i)(j) += v(i) * v(j)
    var vec = Array.fill(d)(1000000L)
    for (_ <- 1 to 3) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => m(i)(j) * vec(j)).sum)
      val div = math.max(w.map(math.abs).max / 1000000L, 1L)
      // Long / truncates toward zero, matching both DIV spellings
      vec = w.map(x => if (x < 0) -((-x) / div) else x / div)
    }
    assert(got.size == d)
    for (i <- 0 until d)
      assert(got(i) == vec(i), s"dim $i: got ${got(i)}, replay ${vec(i)}")
  }

  test("emb_centroid_update: members conserve the corpus at every dim, " +
      "per-cell membership is dim-invariant, and mean_micro replays " +
      "from the exact sums") {
    val rows = graft.SparkEntry.queries("emb_centroid_update")(spark, sfDir)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val n = graft.Tables.load(spark, sfDir, "embeddings").count()
    val byDim = rows.groupBy(_._2)
    assert(byDim.values.forall(_.map(_._3).sum == n),
      "cell memberships must partition the corpus at every dimension")
    val cellN = rows.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(cellN.values.forall(_.size == 1),
      "a cell's member count cannot vary by dimension")
    rows.foreach { case (_, _, nm, s, mean) =>
      val expect = if (s < 0) -((-s * 1000000L) / nm)
        else (s * 1000000L) / nm
      assert(mean == expect)
    }
  }

  test("ann_ivfpq_rerank_int: per-query recall@5 DOMINATES the plain ADC " +
      "top-5 (exact re-ranking of a candidate superset can only help — " +
      "any true neighbor in the candidates lands in its true position), " +
      "and distances are exact int-plane L2") {
    val vecs = graft.Tables.load(spark, sfDir, "embeddings")
      .collect().map { r =>
        r.getLong(r.fieldIndex("vec_id")) ->
          r.getSeq[Float](r.fieldIndex("embedding"))
            .map(x => math.floor(x.toDouble * 1000 + 0.5).toLong).toArray
      }.toMap
    def l2(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => (a(i) - b(i)) * (a(i) - b(i))).sum
    val rerank = graft.SparkEntry.queries("ann_ivfpq_rerank_int")(
        spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).groupBy(_._1)
    val adc = graft.SparkEntry.queries("ann_ivfpq_int")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    assert(rerank.nonEmpty)
    for ((q, g) <- rerank) {
      // reported distances are the exact int-plane L2
      g.foreach { case (_, nid, d) => assert(d == l2(vecs(q), vecs(nid))) }
      val truth = vecs.iterator.filter(_._1 != q)
        .map { case (i, v) => (l2(vecs(q), v), i) }
        .toSeq.sortBy(p => (p._1, p._2)).take(5).map(_._2).toSet
      val rHits = g.map(_._2).count(truth)
      val aHits = adc(q).map(_._2).count(truth)
      assert(rHits >= aHits,
        s"query $q: rerank recall $rHits < ADC $aHits — exact re-ranking " +
          "of a candidate superset regressed, which is impossible unless " +
          "the candidate plumbing broke")
    }
  }

  test("emb_project_top_int: the scaled residual is EXACTLY orthogonal " +
      "to the top direction (sum r_num * v = 0 per vector, integer " +
      "identity), and proj replays from the quantized plane") {
    val rows = graft.SparkEntry.queries("emb_project_top_int")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val vdir = graft.SparkEntry.queries("emb_power_iteration_int")(
        spark, sfDir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // orthogonality: r·v (scaled by vv) telescopes to vv·proj − proj·vv
    rows.groupBy(_._1).foreach { case (vid, g) =>
      val dotRv = g.map { case (_, d, _, rn) =>
        BigInt(rn) * BigInt(vdir(d)) }.sum
      assert(dotRv == 0, s"vec $vid: residual not orthogonal ($dotRv)")
    }
    // proj replay from raw embeddings
    val vecs = quantized(sfDir).map(t => t._1 -> t._3).toMap
    rows.groupBy(_._1).foreach { case (vid, g) =>
      val q = vecs(vid)
      val proj = q.indices.map(i => q(i) * vdir(i)).sum
      assert(g.forall(_._3 == proj), s"vec $vid: proj mismatch")
    }
  }

  test("dedup_semantic_int: exact replay of the within-cluster cosine " +
      "gate and keep-min survivor rule; drops never cross labels") {
    val got = graft.SparkEntry.queries("dedup_semantic_int")(spark, sf01Dir)
      .collect().map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val byLabel = quantized(sf01Dir).groupBy(_._2)
    val expect = scala.collection.mutable.Map[(Int, Long), (Long, Long)]()
    for ((label, vs) <- byLabel; Array((ida, _, qa), (idb, _, qb)) <-
        vs.sortBy(_._1).combinations(2)) {
      val dot = (0 until qa.length).map(i => qa(i) * qb(i)).sum
      val nsq = (q: Array[Long]) => q.map(x => x * x).sum
      if (dot > 0 && dot * dot * 10000L >= 1225L * nsq(qa) * nsq(qb)) {
        val cur = expect.get((label, idb))
        if (cur.forall(_._1 > ida)) expect((label, idb)) = (ida, dot)
      }
    }
    assert(got == expect.toMap,
      s"got=${got.toSeq.sorted} expect=${expect.toSeq.sorted}")
    // every (drop, keeper) shares a label by construction of the key —
    // and a drop must never also be a keeper of a SMALLER id (keep-min
    // consistency: keepers are the cluster-local minima of their pairs)
    for (((_, dropId), (keeperId, _)) <- got)
      assert(keeperId < dropId, s"keeper $keeperId !< drop $dropId")
  }

  test("hamming ANN: distances replay bit-exactly against a driver-" +
      "side popcount; MIH's pigeonhole guarantee surfaces every " +
      "planted Hamming<=7 neighbor at rank 1; every MIH distance is " +
      "the true Hamming distance") {
    val rnd = new scala.util.Random(19)
    val dim = 64
    // base sign patterns ±1.0; ids 0 and 50 are the queries; ids 1 and
    // 51 are planted near-duplicates at Hamming 5 and 7
    val base = (0 until 100).map(_ => Array.fill(dim)(
      if (rnd.nextBoolean()) 1.0f else -1.0f))
    val vecs = base.zipWithIndex.map { case (v, i) =>
      val out = v.clone()
      if (i == 1) { for (d <- 0 until 5) out(d) = -base(0)(d) }
      if (i == 51) { for (d <- 10 until 17) out(d) = -base(50)(d) }
      (i.toLong, out.toSeq)
    }
    // ensure the plants start from their query's pattern
    val planted = vecs.map { case (i, v) =>
      if (i == 1) (i, base(0).zipWithIndex.map { case (x, d) =>
        if (d < 5) -x else x }.toSeq)
      else if (i == 51) (i, base(50).zipWithIndex.map { case (x, d) =>
        if (d >= 10 && d < 17) -x else x }.toSeq)
      else (i, v)
    }
    val df = planted.toDF("vec_id", "embedding")
    def ham(a: Seq[Float], b: Seq[Float]): Int =
      (0 until dim).count(d => (a(d) > 0) != (b(d) > 0))
    val byId = planted.toMap
    val brute = Similarity.hammingTopK(df, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    // bit-exact distance replay on every returned row
    brute.foreach { case (q, n, h, _) =>
      assert(h == ham(byId(q), byId(n)), s"($q,$n) hamming drift") }
    val bruteTop = brute.groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(r => (r._2, r._3))).toMap
    assert(bruteTop(0L).head == ((1L, 5)), s"plant 1: ${bruteTop(0L)}")
    assert(bruteTop(50L).head == ((51L, 7)), s"plant 51: ${bruteTop(50L)}")
    val mih = Similarity.hammingMihTopK(df, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    val mihTop = mih.groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(r => (r._2, r._3))).toMap
    // pigeonhole: Hamming <= 7 forces a shared 8-bit chunk, so the
    // plants are CANDIDATES and must win rank 1 exactly as in brute
    assert(mihTop(0L).head == ((1L, 5)), s"MIH missed plant 1: $mihTop")
    assert(mihTop(50L).head == ((51L, 7)), s"MIH missed plant 51: $mihTop")
    // every MIH distance is the true Hamming distance (candidates may
    // legitimately extend past brute's top-k when a true neighbor
    // shares no chunk — the MIH trade; the PLANTS can never be lost)
    mih.foreach { case (q, n, h, _) =>
      assert(h == ham(byId(q), byId(n)),
        s"MIH row ($q,$n,$h) hamming drift") }
  }

  test("emb_kmeans_converged oracle parity ON AN EARLY-EXIT corpus: " +
      "the cap-unrolled DuckDB mirror equals the exact-fixed-point " +
      "exit — the stationarity theorem checked against the real " +
      "oracle, not just proved in the Scaladoc") {
    def run(cmd: String*): (Int, String) = {
      val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      val p = pb.start()
      val out = new String(p.getInputStream.readAllBytes())
      (p.waitFor(), out)
    }
    val (probe, _) = run("python3", "-c", "import duckdb")
    assume(probe == 0, "python3+duckdb not on this host; runs on CI")
    // the separable 8-cluster corpus from the convergence test — the
    // driver's oracle gate only sees the real corpus, where no early
    // exit fires; THIS corpus exits at n_iters = 2 while the oracle
    // still unrolls all 6 steps
    val rnd = new scala.util.Random(11)
    val members = for (v <- 0L until 40L) yield {
      val cl = (v % 8).toInt
      val base = Array.fill(8)(0.0f)
      base(cl) = 10.0f
      for (i <- 0 until 8)
        base(i) = base(i) + (rnd.nextInt(201) - 100) / 1000.0f
      (v, base.toSeq)
    }
    val df = members.toDF("vec_id", "embedding")
    withTempDir("kmeans_oracle") { dir =>
      df.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val got = Similarity.kmeansConverged(df).collect()
      assert(got.forall(_.getInt(5) == 2),
        "fixture must actually early-exit (n_iters = 2)")
      val gotRows = got
        .map(_.toSeq.map(String.valueOf).mkString("\t")).toSeq.sorted
      val sqlFile = java.nio.file.Path.of(dir, "oracle.sql")
      java.nio.file.Files.writeString(sqlFile,
        graft.SparkEntry.oracleSql("emb_kmeans_converged"))
      val script =
        """import sys, duckdb
          |sql = open(sys.argv[1]).read()
          |con = duckdb.connect()
          |con.execute("SET enable_progress_bar = false")
          |con.execute("CREATE VIEW embeddings AS SELECT * FROM "
          |            f"read_parquet('{sys.argv[2]}/embeddings.parquet/*.parquet')")
          |for row in con.execute(sql).fetchall():
          |    print('\t'.join(str(x) for x in row))
          |""".stripMargin
      val (code, out) = run("python3", "-c", script,
        sqlFile.toString, dir)
      assert(code == 0, s"oracle run failed:\n$out")
      val oracleRows = out.linesIterator.filter(_.nonEmpty).toSeq.sorted
      assert(oracleRows == gotRows,
        s"early-exit vs 6-step-unroll divergence:\n" +
          s"spark=${gotRows.take(3)}\noracle=${oracleRows.take(3)}")
    }
  }

  private def sdiv(x: Long, d: Long): Long = if (x < 0) -((-x) / d) else x / d

  private def quantize(v: Seq[Double]): Seq[Long] =
    v.map(x => math.floor(x * 1000 + 0.5).toLong)

  test("kmeansTrain at cap=1 equals the single emb_centroid_update " +
      "M-step (loop-vs-single-step equality); empty cells keep seeds") {
    val r = Similarity.kmeansTrain(
      graft.Tables.load(spark, sfDir, "embeddings"), cap = 1)
    assert(r.nIters == 1)
    val step = graft.SparkEntry.queries("emb_centroid_update")(spark, sfDir)
      .collect()
      .map(x => (x.getInt(0), x.getInt(1)) -> x.getLong(4)).toMap
    val seeds = graft.Tables.load(spark, sfDir, "embeddings")
      .where(col("vec_id") < 8).orderBy("vec_id").collect()
      .map(x => quantize(x.getSeq[Float](1).map(_.toDouble)))
    for (c <- 0 until 8; d <- r.cents(c).indices) {
      val expect = step.getOrElse((c, d), seeds(c)(d) * 1000000L)
      assert(r.cents(c)(d) == expect, s"cell $c dim $d")
    }
    // the fixture exercises both regimes or the carry rule is untested
    assert(step.keys.map(_._1).toSet.nonEmpty)
  }

  test("kmeansConverged: EXACT fixed point on a separable corpus — " +
      "early exit before the cap, movement 0, centroids = exact " +
      "per-cluster integer means, members/inertia replayed") {
    // 8 well-separated clusters on orthogonal axes in dim 8: seeds
    // vec_id 0..7 land one per cluster, every other member joins its
    // axis cluster in E-step 1, iteration 2 reproduces the means ->
    // movement 0 -> exit at n_iters = 2 < cap
    val rnd = new scala.util.Random(11)
    val members = for (v <- 0L until 40L) yield {
      val cl = (v % 8).toInt
      val base = Array.fill(8)(0.0f)
      base(cl) = 10.0f
      for (i <- 0 until 8)
        base(i) = base(i) + (rnd.nextInt(201) - 100) / 1000.0f // ±0.1
      (v, base.toSeq)
    }
    val df = members.toDF("vec_id", "embedding")
    val got = Similarity.kmeansConverged(df).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getInt(5),
          r.getLong(6)))
    assert(got.forall(_._2._4 == 2), s"expected n_iters=2: ${got.take(3).toSeq}")
    assert(got.forall(_._2._5 == 0L), "expected last_move=0")
    // replay: quantized cluster means + inertia in plain Scala
    val q = members.map { case (v, e) =>
      v -> quantize(e.map(_.toDouble)) }.toMap
    for (c <- 0 until 8) {
      val mem = members.map(_._1).filter(_ % 8 == c).map(q)
      for (d <- 0 until 8) {
        val cMicro = sdiv(mem.map(_(d)).sum * 1000000L, mem.size)
        val (gc, gn, _, _, _) = got.toMap.apply((c, d))
        assert(gc == cMicro, s"cell $c dim $d centroid")
        assert(gn == mem.size.toLong, s"cell $c members")
      }
      val inertia = mem.map(v => (0 until 8).map { d =>
        val cMicro = sdiv(mem.map(_(d)).sum * 1000000L, mem.size)
        val dq = sdiv(cMicro - v(d) * 1000000L, 1000000L)
        dq * dq
      }.sum).sum
      assert(got.toMap.apply((c, 0))._3 == inertia, s"cell $c inertia")
    }
  }
}
