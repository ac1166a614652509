package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink format round-trips beyond parquet: csv (with schema),
  * json (lines), and text. The engine is format-agnostic by construction
  * (everything downstream consumes DataFrames); these specs pin the
  * format plumbing.
  */
class SourcesSpec extends SparkSpec {

  private lazy val docs =
    Tables.load(spark, sfDir, "documents").limit(50).cache()

  test("csv round-trip preserves rows (explicit schema, header)") {
    withTempDir("csv") { dir =>
      docs.select("doc_id", "text").write.mode("overwrite")
        .option("header", "true").csv(dir)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType)))
      val back = spark.read.schema(schema).option("header", "true").csv(dir)
      assert(back.count() == 50)
      val a = docs.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      back.collect().foreach(r => assert(a(r.getLong(0)) == r.getString(1)))
    }
  }

  test("json-lines round-trip preserves rows and types") {
    withTempDir("json") { dir =>
      docs.select("doc_id", "text").write.mode("overwrite").json(dir)
      val back = spark.read.json(dir)
      assert(back.count() == 50)
      assert(back.schema("doc_id").dataType == LongType)
    }
  }

  test("orc round-trip preserves rows and types") {
    withTempDir("orc") { dir =>
      docs.select("doc_id", "text").write.mode("overwrite").orc(dir)
      val back = spark.read.orc(dir)
      assert(back.count() == 50)
      assert(back.schema("doc_id").dataType == LongType)
      val a = docs.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      back.collect().foreach(r => assert(a(r.getLong(0)) == r.getString(1)))
    }
  }

  test("partitioned parquet sink: partition pruning reaches the file " +
      "index (a filtered read touches only matching directories)") {
    withTempDir("part") { dir =>
      Tables.load(spark, sfDir, "orders")
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(dir)
      // layout: one directory per status value
      val parts = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("o_orderstatus=")).map(_.getName).sorted
      assert(parts.nonEmpty, "expected hive-style partition directories")
      val pruned = spark.read.parquet(dir).where(col("o_orderstatus") === "F")
      // the partition filter must show up as such in the scan, NOT as a
      // post-scan data filter
      val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
      assert(scan.contains("PartitionFilters") &&
        scan.contains("o_orderstatus"),
        s"partition filter not pushed to the file index:\n$scan")
      val expect = Tables.load(spark, sfDir, "orders")
        .where(col("o_orderstatus") === "F").count()
      assert(pruned.count() == expect)
    }
  }

  test("dynamic partition overwrite: rewriting one partition leaves the " +
      "others intact (the incremental-output sink contract)") {
    withTempDir("dynpart") { dir =>
      val s = spark.newSession()
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      import s.implicits._
      Seq((1, "a"), (2, "a"), (3, "b"), (4, "c"))
        .toDF("v", "p").write.mode("overwrite").partitionBy("p").parquet(dir)
      // overwrite ONLY partition b with new content; a and c must survive
      Seq((30, "b"), (31, "b"))
        .toDF("v", "p").write.mode("overwrite").partitionBy("p").parquet(dir)
      val back = s.read.parquet(dir).collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      assert(back == Set((1, "a"), (2, "a"), (30, "b"), (31, "b"), (4, "c")),
        s"got $back")
      // control: STATIC overwrite mode drops the untouched partitions
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
      import s2.implicits.{localSeqToDatasetHolder => h2}
      withTempDir("statpart") { dir2 =>
        h2(Seq((1, "a"), (3, "b"))).toDF("v", "p")
          .write.mode("overwrite").partitionBy("p").parquet(dir2)
        h2(Seq((30, "b"))).toDF("v", "p")
          .write.mode("overwrite").partitionBy("p").parquet(dir2)
        val back2 = s2.read.parquet(dir2).collect()
          .map(r => (r.getInt(0), r.getString(1))).toSet
        assert(back2 == Set((30, "b")), s"static overwrite keeps only b: $back2")
      }
    }
  }

  test("q_csv_roundtrip / q_json_source: the aggregate through the " +
      "text-format round trip equals the same aggregate straight off " +
      "parquet (no value drifts through serialize/parse/type)") {
    val viaCsv = SparkEntry.queries("q_csv_roundtrip")(spark, sfDir)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getString(2)))
      .toSeq
    val direct = Tables.load(spark, sfDir, "nation")
      .groupBy("n_regionkey")
      .agg(count(lit(1)).as("n"), min("n_name").as("f"))
      .orderBy("n_regionkey").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getString(2))).toSeq
    assert(viaCsv == direct)
    val viaJson = SparkEntry.queries("q_json_source")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    val directJ = Tables.load(spark, sfDir, "supplier")
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), Cols.moneySum(col("s_acctbal")).as("b"))
      .orderBy("s_nationkey").collect()
      .map(r => (r.getInt(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    assert(viaJson == directJ,
      "a double drifted through the json text round trip")
  }

  test("text source: line-oriented read feeds the MapReduce layer") {
    withTempDir("txt") { dir =>
      docs.select(concat_ws("|", col("doc_id"), col("text")).as("value"))
        .write.mode("overwrite").text(dir)
      import spark.implicits._
      val lines = spark.sparkContext.textFile(dir, 3).toDS()
      assert(lines.count() == 50)
      assert(lines.collect().forall(_.contains("|")))
    }
  }
}
