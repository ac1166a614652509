package perfbench

import perfbench.Main.{CallResult, PassResult}

import scala.collection.mutable

/** Turns passes into the named metrics. End-to-end metrics come from the
  * untraced measured passes; per-layer metrics are medians over all
  * measured passes of each pass's total, except the `trace.*` ones, which
  * need the traced passes. */
object Metrics {

  final case class M(value: Double, unit: String)
  final case class Report(endToEnd: Seq[(String, M)], perLayer: Seq[(String, M)])

  /** Per-call wall-time metrics, in the order BENCHMARK.json lists them. */
  val callMetrics: Seq[String] = Seq(
    "mapreduce.min_unique_len_s", "mapreduce.find_s",
    "mapreduce.find_via_mapreduce_s", "mapreduce.word_count_via_mapreduce_s",
    "mapreduce.sum_squares_via_mapreduce_s",
    "mapreduce.count_distinct_abs_via_mapreduce_s",
    "mapreduce.find_iteratively_s", "operators.relational_s",
    "operators.dedup_s", "operators.lecture_sql_s",
    "streaming.resolve_pruned_s")

  /** Span kinds whose self time the trace reports, outermost first. */
  val spanLayers: Seq[String] =
    Seq("pass", "mapreduce", "operators", "streaming", "job", "stage")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def vmHwmMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def report(cores: Int, setupS: Seq[Double], cold: PassResult,
      untraced: Seq[PassResult], traced: Seq[PassResult],
      measured: Seq[PassResult], attempted: Long, failed: Long,
      spans: Seq[Span]): Report = {
    val passS = median(untraced.map(_.wallS))
    val rowsPerPass = cold.calls.map(_.call.rows).sum.toDouble
    // CPU, not wall time, is the end-to-end pass cost: on a shared host
    // other tenants' load moves wall time between runs far more than any
    // bound allows, and CPU time much less (see README "Metrics").
    val e2e = Seq(
      "cpu_s" -> M(median(untraced.map(_.processCpuS)), "s"),
      "setup_s" -> M(median(setupS), "s"))

    def perPass(f: PassResult => Double): Double = median(measured.map(f))
    def callSum(p: PassResult, f: CallResult => Double) = p.calls.map(f).sum
    val mr = (p: PassResult) => p.calls.filter(_.call.layer == "mapreduce")
    val built = (p: PassResult) => p.calls.filter(_.phaseS.contains("build"))
    // 1 - busy / (wall x cores) over the calls of one workload part
    def idle(p: PassResult, part: String): Double = {
      val cs = p.calls.filter(_.call.part == part)
      if (cs.isEmpty) 0.0
      else 1.0 - cs.map(_.engine.busyMs).sum / 1e3 / (cs.map(_.wallS).sum * cores)
    }

    val calls = callMetrics.map { name =>
      name -> M(perPass(p => callSum(p, c =>
        if (c.call.metric == name) c.wallS else 0.0)), "s")
    }
    val layer = calls ++ Seq(
      "pass_s" -> M(passS, "s"),
      "rows_per_s" -> M(rowsPerPass / passS, "1/s"),
      // one sample per run, so too exposed to host load to carry a bound
      "cold_pass_s" -> M(cold.wallS, "s"),
      "pass_samples" -> M(untraced.size.toDouble, "count"),
      "mapreduce.jobs_per_answer" -> M(perPass { p =>
        val cs = mr(p)
        if (cs.isEmpty) 0.0 else cs.map(_.engine.jobs).sum.toDouble / cs.size
      }, "count"),
      "mapreduce.bulk_idle_share" -> M(perPass(idle(_, "bulk")), "ratio"),
      "mapreduce.iterative_idle_share" -> M(perPass(idle(_, "iterative")), "ratio"),
      "mapreduce.sink_files" -> M(perPass(p =>
        callSum(p, _.extra.getOrElse("sink_files", 0.0))), "count"),
      "mapreduce.sink_bytes" -> M(perPass(p =>
        callSum(p, _.extra.getOrElse("sink_bytes", 0.0))), "B"),
      "operators.build_s" -> M(perPass(p =>
        built(p).map(_.phaseS("build")).sum), "s"),
      "operators.action_s" -> M(perPass(p =>
        built(p).map(_.phaseS.getOrElse("action", 0.0)).sum), "s"),
      "operators.jobs_at_build" -> M(perPass(p =>
        built(p).map(_.atBuild.jobs).sum.toDouble), "count"),
      "tables.input_bytes" -> M(perPass(_.engine.inputBytes.toDouble), "B"),
      "tables.input_records" -> M(perPass(_.engine.inputRecords.toDouble), "count"),
      "engine.jobs" -> M(perPass(_.engine.jobs.toDouble), "count"),
      "engine.stages" -> M(perPass(_.engine.stages.toDouble), "count"),
      "engine.tasks" -> M(perPass(_.engine.tasks.toDouble), "count"),
      "engine.task_cpu_s" -> M(perPass(_.engine.cpuNs / 1e9), "s"),
      "engine.task_busy_s" -> M(perPass(_.engine.busyMs / 1e3), "s"),
      "engine.idle_share" -> M(perPass(p =>
        1.0 - p.engine.busyMs / 1e3 / (p.wallS * cores)), "ratio"),
      "engine.scheduler_wait_s" -> M(perPass(_.engine.schedWaitMs / 1e3), "s"),
      "engine.shuffle_write_bytes" -> M(perPass(_.engine.shuffleWrite.toDouble), "B"),
      "engine.shuffle_read_bytes" -> M(perPass(_.engine.shuffleRead.toDouble), "B"),
      "engine.spill_bytes" -> M(perPass(_.engine.spill.toDouble), "B"),
      "engine.result_bytes" -> M(perPass(_.engine.resultBytes.toDouble), "B"),
      "engine.gc_s" -> M(perPass(_.engine.gcMs / 1e3), "s"),
      "engine.task_skew" -> M(perPass(_.engine.worstSkew), "ratio"),
      "engine.failed_tasks" -> M(perPass(_.engine.failedTasks.toDouble), "count"),
      "jvm.peak_rss_mb" -> M(vmHwmMb, "MB"),
      "failed_ratio" -> M(failed.toDouble / math.max(1L, attempted), "ratio"),
      "trace.overhead_s" -> M(
        if (traced.isEmpty) 0.0 else median(traced.map(_.wallS)) - passS, "s"))
    val self = selfTimes(spans)
    val selfMetrics = spanLayers.map { k =>
      s"trace.self.${k}_s" -> M(
        self.get(k).map(_._3 / math.max(1, traced.size)).getOrElse(0.0), "s")
    }
    Report(e2e, layer ++ selfMetrics)
  }

  def json(ms: Seq[(String, M)]): String =
    Json.obj(ms.map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
    })

  def spanJson(s: Span): String = Json.obj(Seq(
    "id" -> Json.str(s.id), "parent" -> Json.str(s.parent),
    "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
    "call" -> Json.str(s.callId), "start_ms" -> s.start.toString,
    "end_ms" -> s.end.toString))

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** kind -> (spans, total s, self s). A span's self time is its length
    * minus the time its children cover: a call's self time is its time
    * outside Spark jobs, a job's is time no stage of it was running. */
  def selfTimes(spans: Seq[Span]): Map[String, (Int, Double, Double)] = {
    val children = spans.groupBy(_.parent)
    val acc = mutable.LinkedHashMap.empty[String, (Int, Double, Double)]
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      val len = math.max(0L, s.end - s.start)
      val self = len - covered(kids, s.start, s.end)
      val (n, t, sf) = acc.getOrElse(s.kind, (0, 0.0, 0.0))
      acc(s.kind) = (n + 1, t + len / 1e3, sf + self / 1e3)
    }
    acc.toMap
  }

  def selfTimeTable(workload: String, spans: Seq[Span], tracedPasses: Int,
      r: Report): String = {
    val self = selfTimes(spans)
    val n = math.max(1, tracedPasses)
    val pl = r.perLayer.toMap
    val rows = spanLayers.filter(self.contains).map { k =>
      val (c, t, s) = self(k)
      f"| $k | ${c.toDouble / n}%.1f | ${t / n}%.3f | ${s / n}%.3f |"
    }
    val idle = r.perLayer.collect {
      case (k, m) if k.endsWith("idle_share") && m.value != 0.0 => f"$k ${m.value}%.3f"
    }
    (Seq(s"Workload `$workload`, per traced pass ($tracedPasses traced passes).",
      "",
      "| layer | spans | total s | self s |", "|---|---|---|---|") ++ rows ++ Seq(
      "",
      f"untraced pass_s ${pl("pass_s").value}%.3f, tracing overhead " +
        f"${pl("trace.overhead_s").value}%.3f s, engine.jobs ${pl("engine.jobs").value}%.0f, " +
        idle.mkString(", "))
    ).mkString("", "\n", "\n")
  }
}
