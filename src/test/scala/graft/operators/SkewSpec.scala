package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Salted join correctness: same result as the plain join, with the hot
  * key's rows actually spread across salt buckets.
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals plain join on skewed data, and spreads the " +
      "hot key") {
    // 10k rows of one hot key + a uniform tail
    val left = ((1 to 10000).map(i => ("hot", i)) ++
      (1 to 1000).map(i => (s"k${i % 50}", i))).toDF("key", "lv")
    val right = (Seq("hot") ++ (0 until 50).map(i => s"k$i"))
      .zipWithIndex.toDF("key", "rv")

    val plain = left.join(right, "key")
      .select("key", "lv", "rv").collect().toSet
    val salted = Skew.saltedJoin(left, right, "key", salt = 8)
      .select("key", "lv", "rv").collect().toSet
    assert(salted == plain)

    // the scatter actually uses multiple buckets for the hot key
    val buckets = left.where(col("key") === "hot")
      .withColumn("__salt",
        pmod(xxhash64(col("key"), col("lv")), lit(8)))
      .select("__salt").distinct().count()
    assert(buckets == 8)
  }

  test("saltedJoin spreads the hot key across shuffle partitions where " +
      "the plain join serializes it into one") {
    // force a shuffle join (no broadcast) so partition placement is the
    // thing under test; AQE off to keep the partitioning observable
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    import s.implicits._
    val left = ((1 to 10000).map(i => ("hot", i)) ++
      (1 to 1000).map(i => (s"k${i % 50}", i))).toDF("key", "lv")
    val right = (Seq("hot") ++ (0 until 50).map(i => s"k$i"))
      .zipWithIndex.toDF("key", "rv")

    val saltedParts = Skew.saltedJoin(left, right, "key", salt = 8)
      .where(col("key") === "hot")
      .select(spark_partition_id().as("p")).distinct().count()
    val plainParts = left.join(right, "key")
      .where(col("key") === "hot")
      .select(spark_partition_id().as("p")).distinct().count()
    assert(plainParts == 1, "unsalted shuffle join must co-locate the hot key")
    assert(saltedParts > 1,
      s"salted join must spread the hot key, got $saltedParts partition(s)")
  }

  test("hotSaltedJoin driven by a COUNT-MIN hot set equals both the " +
      "exact-hot-set run and the plain join (the one-pass alternative " +
      "the Skew Scaladoc documents)") {
    // Zipf stream: one boilerplate key dominating, a long tail
    val big = ((1 to 5000).map(i => ("hot", i.toLong)) ++
      (1 to 2000).map(i => (s"t${i % 400}", i.toLong)))
      .toDF("g", "doc_id")
    val small = (Seq("hot") ++ (0 until 400).map(i => s"t$i"))
      .zipWithIndex.map { case (g, i) => (g, i.toLong) }
      .toDF("g", "payload")
    val plain = big.join(small, Seq("g"))
      .select("g", "doc_id", "payload").collect().toSet

    // exact hot set (the full-aggregate derivation callers use today)
    val exactHot = big.groupBy("g").agg(count(lit(1)).as("n"))
      .where(col("n") >= 1000).select("g")
    val viaExact = Skew
      .hotSaltedJoin(big, small, "g", exactHot, col("doc_id"))
      .select("g", "doc_id", "payload").collect().toSet
    assert(viaExact == plain)

    // CMS hot set: est >= cutoff over the fixed 4096-cell sketch —
    // one-sided estimates make this a SUPERSET of the exact hot set,
    // and hotSaltedJoin is correct under ANY hot superset (extra keys
    // just salt unnecessarily), so the result is identical
    val cells = TextAnalysis.cmsCells(big.select(col("g").as("tok")))
    val cmsHot = TextAnalysis
      .cmsEstimates(big.select(col("g").as("tok")).distinct(), cells)
      .where(col("est") >= 1000)
      .select(col("tok").as("g"))
    val cmsHotKeys = cmsHot.collect().map(_.getString(0)).toSet
    assert(cmsHotKeys.contains("hot"),
      "the CMS hot set must contain the truly hot key (one-sidedness)")
    val viaCms = Skew
      .hotSaltedJoin(big, small, "g", cmsHot, col("doc_id"))
      .select("g", "doc_id", "payload").collect().toSet
    assert(viaCms == plain)
  }

  test("hotSaltedJoinBy with the foldable sketch-literal predicate " +
      "equals the plain join, marks a SUPERSET of the exact hot set, " +
      "and derives its cutoff total from the sketch itself") {
    val big = ((1 to 5000).map(i => ("hot", i.toLong)) ++
      (1 to 2000).map(i => (s"t${i % 400}", i.toLong)))
      .toDF("g", "doc_id")
    val small = (Seq("hot") ++ (0 until 400).map(i => s"t$i"))
      .zipWithIndex.map { case (g, i) => (g, i.toLong) }
      .toDF("g", "payload")
    val (cells, n) = TextAnalysis
      .cmsSketchLiteral(big.select(col("g").as("tok")))
    // N comes from the sketch row sums — no separate total aggregate
    assert(n == 7000L, s"sketch-derived total: $n")
    val cutoff = 1000L
    // superset: every truly-hot key passes the predicate (one-sided)
    val exactHot = big.groupBy("g").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= cutoff).select("g")
      .collect().map(_.getString(0)).toSet
    val predHot = big.select(col("g")).distinct()
      .where(TextAnalysis.cmsEstCol(col("g"), cells) >= cutoff)
      .collect().map(_.getString(0)).toSet
    assert(exactHot.subsetOf(predHot),
      s"CMS predicate must be a superset: $exactHot vs $predHot")
    // and the join output is identical to the plain join
    val plain = big.join(small, Seq("g"))
      .select("g", "doc_id", "payload").collect().toSet
    val viaBy = Skew.hotSaltedJoinBy(big, small, "g",
      t => TextAnalysis.cmsEstCol(t, cells) >= cutoff, col("doc_id"))
      .select("g", "doc_id", "payload").collect().toSet
    assert(viaBy == plain)
  }

  test("guardedKeyJoin rejects an input that already carries one of " +
      "its internal column names") {
    val oldSide = Seq(("a", 1L, 0)).toDF("k", "doc_old", "__salt")
    val newSide = Seq(("a", 2L)).toDF("k", "doc_new")
    intercept[IllegalArgumentException] {
      Skew.guardedKeyJoin(oldSide, newSide, Seq("k"), col("doc_old"))
    }
  }

  test("text_common_bigrams_cms equals text_common_bigrams row for " +
      "row (the hot-set swap is invisible in the result)") {
    val exact = graft.SparkEntry
      .queries("text_common_bigrams")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val cms = graft.SparkEntry
      .queries("text_common_bigrams_cms")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(exact.nonEmpty && exact == cms)
  }
}
