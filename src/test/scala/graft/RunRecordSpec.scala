package graft

/** The per-query run record Bench writes ([[Metrics.record]]), read from
  * the production code path at sf0.001. */
class RunRecordSpec extends SparkSpec {

  private def recordOf(name: String): Metrics.RunRecord =
    Metrics.record(spark, name)(SparkEntry.queries(name)(spark, sfDir))(
      _.count())

  test("Tables.load reads every table's schema off its footer, as " +
      "Spark's inference job would") {
    for (dir <- Seq(sfDir, sf01Dir); t <- Tables.all) {
      val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
      val loaded = Tables.load(spark, dir, t).queryExecution.analyzed
        .collectLeaves().head.schema
      assert(loaded == inferred, s"$dir/$t")
    }
  }

  test("q5_region_revenue launches no job while its DataFrame is built") {
    val r = recordOf("q5_region_revenue")
    assert(r.jobsAtBuild == 0, r)
    assert(r.jobs.nonEmpty && r.jobs.forall(_._1 == "action"), r)
  }

  test("the record's shuffle bytes and the plan walk's agree on " +
      "pipeline_decontaminate (exchanges behind reuse included)") {
    spark.catalog.clearCache()
    val df = SparkEntry.queries("pipeline_decontaminate")(spark, sfDir)
    val r = Metrics.record(spark, "pipeline_decontaminate")(df)(_.collect())
    val m = Metrics.shuffleSummary(df)
    assert(math.abs(m.bytesWritten - r.shuffleWriteBytes) <=
      r.shuffleWriteBytes / 100, s"$m vs $r")
  }

  test("pipeline_full_prepare's record names its four checkpoint stages; " +
      "the caller's job description and group survive the build") {
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val r = recordOf("pipeline_full_prepare")
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(sc.getLocalProperty("spark.jobGroup.id") == null)
      val labels = r.jobs.map(_._1)
      for (stage <- Seq("2_canonicalize", "4_exact_substr", "5_near_dup",
          "6_decontaminate"))
        assert(labels.contains(stage), s"no $stage job: $r")
      assert(r.jobsAtBuild >= 4, r)
      // the lazy report rows run in the action, under the caller's label
      assert(labels.contains("caller"), r)
      assert(r.jobSeconds.keySet == labels.toSet)
    } finally sc.setJobDescription(null)
  }
}
