package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every registered query against
  * `SPARK_GRAFT_SF_DIR`, one cold pass then `SPARK_GRAFT_BENCH_PASSES`
  * (default 5) timed passes (min per query), and emits ONE metric JSON
  * object.
  *
  * Every run of a query goes through [[Metrics.record]], so besides the
  * warm min (`queries`) and `[min, median, max]` (`spread`) the metric
  * holds one `records` entry per query whose every pass succeeded:
  * `cold_s` (the cold pass, which also builds memos and fixtures), and
  * `jobs`, `jobs_at_build` (jobs launched before the action: eager
  * checkpoints, memo builds, fixture writes), `shuffle_write_bytes` and
  * `job_s` (job seconds per job description, e.g. the prepare stage
  * labels of [[graft.operators.Prepare.fullPrepare]]), each as
  * `[cold pass, fastest warm pass]`.
  *
  * The metric JSON is (a) printed bare to stdout, (b) printed bare to
  * stderr — each followed by the per-query spread in ≤ ~2 KB chunk lines
  * and then a compact total line (`value` over every timed query,
  * `value_declared` over [[SparkEntry.queries]] only) — and (c) written
  * to `bench_metric.json` in the working
  * directory — sbt prefixes stdout lines with `[info]`, so the file copy
  * is the machine-parseable source of truth for the driver.
  * `SPARK_GRAFT_METRIC_OUT` overrides the file path, so a fresh-JVM
  * timing can give each run its own file:
  * `for i in 1 2 3; do SPARK_GRAFT_METRIC_OUT=q_$i.json sbt "runMain graft.Bench <q>"; done`.
  *
  * A query that throws in a timed pass is recorded as +Infinity for that
  * pass, so a failure can never lower the reported min; queries failing
  * every pass land in the `failed` array and are excluded from the total.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val spark = GraftSession()
    // Optional args filter for single-query iteration (driver passes none).
    // benchOnly entries (write-path measurements with no oracle) time
    // alongside the declared queries — additions to the metric's
    // queries map, never removals or renames.
    val all = SparkEntry.queries ++ SparkEntry.benchOnly
    val selected =
      if (args.isEmpty) all
      else all.filter { case (n, _) => args.contains(n) }
    // Parsed defensively BEFORE the cold pass: a garbage or
    // non-positive value would otherwise surface only after the full
    // cold pass has already run (as a NumberFormatException or a bogus
    // zero-pass metric).
    val nPasses = sys.env.get("SPARK_GRAFT_BENCH_PASSES") match {
      case None => 5
      case Some(v) => v.toIntOption match {
        case Some(n) if n >= 1 => n
        case _ => sys.error(
          s"SPARK_GRAFT_BENCH_PASSES must be a positive integer, got '$v'")
      }
    }
    // One run: build + count, read back through Metrics.record; a throw
    // is logged and reads as None.
    def run(name: String, fn: (SparkSession, String) => DataFrame)
        : Option[Metrics.RunRecord] =
      try Some(Metrics.record(spark, name)(fn(spark, sfDir))(_.count()))
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        None
      }
    // Caches populated by operators in a pass would otherwise let the
    // next pass skip real work.
    def pass(): Map[String, Option[Metrics.RunRecord]] = {
      val p = selected.map { case (name, fn) => name -> run(name, fn) }
      spark.catalog.clearCache()
      p
    }
    // The cold pass first: JIT + janino codegen compile and memo/fixture
    // builds are one-time session costs, irrelevant to steady-state
    // throughput (what a 100 TB run amortizes to); the timed passes then
    // measure actual execution. Timed passes, min per query: the host VM
    // intermittently stalls the guest for seconds at a time (idle-CPU
    // freezes), and min-of-N is the standard way to measure the code
    // rather than the neighbors. Five passes (was three through round
    // 6): observed stall rates still produced ±30% round-over-round
    // swings on untouched queries at N=3; two more passes halve the odds
    // a stall survives into the min. A failed run must never feed the
    // min — a fast crash would otherwise "improve" the benchmark.
    val cold = pass()
    val passes = (1 to nPasses).map(_ => pass())
    def seconds(n: String, p: Map[String, Option[Metrics.RunRecord]]) =
      p(n).fold(Double.PositiveInfinity)(_.seconds)
    // A query counts as ok only when EVERY timed pass succeeded — an
    // intermittent crasher (2 of 3 passes throwing) still has a finite
    // min and would otherwise be silently credited as healthy.
    val results = selected.keys.map(n => n -> passes.map(seconds(n, _)).min)
      .toMap
    val (okQ, failedQ) = results.partition { case (n, _) =>
      passes.forall(_(n).isDefined)
    }
    val qs = okQ.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = failedQ.keys.toSeq.sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = okQ.values.sum
    // The declared queries alone: benchOnly write-path measurements
    // (stream_ingest_commit, ~9 s at sf0.1) would otherwise dominate
    // any comparison against the oracle-checked inventory.
    val totalDeclared =
      okQ.filter { case (n, _) => !SparkEntry.benchOnly.contains(n) }
        .values.sum
    val headline =
      s""""metric":"total","value":$total,"value_declared":$totalDeclared,"unit":"sec""""
    // Per-query [min, median, max] across the timed passes: the host VM's
    // intermittent multi-second stalls make single min-vs-min
    // round-over-round comparison ambiguous (a 1.3x "regression" can be
    // pure stall luck); the spread lets a reader separate host noise
    // (wide spread, stable min) from a code regression (shifted min)
    // mechanically.
    val spreadEntries = okQ.keys.toSeq.sorted.map { k =>
      val ts = passes.map(seconds(k, _)).sorted
      s"""\"$k\":[${ts.head},${ts(ts.size / 2)},${ts.last}]"""
    }
    val records = okQ.keys.toSeq.sorted.flatMap { k =>
      cold(k).map { c =>
        val w = passes.map(_(k).get).minBy(_.seconds)
        def pair(f: Metrics.RunRecord => Any) = s"[${f(c)},${f(w)}]"
        val jobS = (c.jobSeconds.keySet ++ w.jobSeconds.keySet).toSeq.sorted
          .map(l => s"\"$l\":" + pair(_.jobSeconds.getOrElse(l, 0.0)))
        s"\"$k\":{\"cold_s\":${c.seconds},\"jobs\":${pair(_.jobs.size)}," +
          s"\"jobs_at_build\":${pair(_.jobsAtBuild)}," +
          s"\"shuffle_write_bytes\":${pair(_.shuffleWriteBytes)}," +
          s"\"job_s\":${jobS.mkString("{", ",", "}")}}"
      }
    }
    val json =
      s"""{$headline,"queries":$qs,"spread":${spreadEntries.mkString("{", ",", "}")},"records":${records.mkString("{", ",", "}")},"failed":$failed,"sf":"$sfDir"}"""
    val compact =
      s"""{$headline,"n_queries":${okQ.size},"n_failed":${failedQ.size},"sf":"$sfDir"}"""
    Files.writeString(Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_METRIC_OUT", "bench_metric.json")), json + "\n")
    // The spread again as SELF-CONTAINED chunk lines of ≤ ~2 KB: a
    // log-tail capture truncates the single ~20 KB full line mid-JSON.
    val chunks = {
      val b = Seq.newBuilder[String]
      var cur = List.empty[String]
      var len = 0
      spreadEntries.foreach { e =>
        if (len + e.length > 1800 && cur.nonEmpty) {
          b += cur.reverse.mkString(","); cur = Nil; len = 0
        }
        cur = e :: cur; len += e.length + 1
      }
      if (cur.nonEmpty) b += cur.reverse.mkString(",")
      b.result()
    }
    val chunkLines = chunks.zipWithIndex.map { case (body, i) =>
      s"""{"metric":"per_query_chunk","part":${i + 1},"of":${chunks.size},"queries":{$body}}"""
    }
    // File first (survives any stream prefixing/truncation), then both
    // streams bare, the compact total line LAST on each: log tails keep
    // the end, and the last JSON line is the one a tail parser reads.
    for (out <- Seq(System.out, System.err)) {
      out.println(json)
      chunkLines.foreach(out.println)
      out.println(compact)
    }
    spark.stop()
    if (failedQ.nonEmpty) sys.exit(1)
  }
}
