package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run in one JVM:
  *
  *   1. set-up, repeated seven times (median reported): session build,
  *      input generation and ground truth;
  *   2. the cold pass, the first pass after session start;
  *   3. `WarmupPasses` warm-up passes;
  *   4. measured passes for about `--seconds` (at least three).
  *
  * A call's time is the time of its program phases (`CallCtx.phase`); a
  * pass's time is the sum over its calls, so the harness's checks and
  * clean-up are not counted. Every call's answer is checked. With
  * `--trace 1` every other measured pass records spans (pass, call, Spark
  * job, stage), so the tracing overhead is the traced minus the untraced
  * median pass time. The run's metrics go to `--out` as one JSON object;
  * `run.py` prints them. */
object Main {

  /** The program keeps speeding up for dozens of passes (JIT), longer
    * than a run can wait, so the warm-up is a fixed number of passes:
    * every run then measures the same stretch of that curve. */
  val WarmupPasses = 2
  val SetupRounds = 7
  val MinPasses = 3

  final case class Opts(workload: String = "", seed: Long = 1L,
      seconds: Double = 10, trace: Boolean = false, work: Path = null,
      out: Path = null, traceDir: Path = null, sfDir: String = "")

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case k :: v :: rest =>
      parse(rest, k match {
        case "--workload"     => o.copy(workload = v)
        case "--seed"         => o.copy(seed = v.toLong)
        case "--seconds"      => o.copy(seconds = v.toDouble)
        case "--trace"        => o.copy(trace = v == "1")
        case "--work"         => o.copy(work = Paths.get(v))
        case "--out"          => o.copy(out = Paths.get(v))
        case "--trace-dir"    => o.copy(traceDir = Paths.get(v))
        case "--sf-dir"       => o.copy(sfDir = v)
        case other => throw new IllegalArgumentException(s"unknown option $other")
      })
    case other => throw new IllegalArgumentException(s"bad arguments $other")
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  final case class CallResult(call: Call, wallS: Double,
      phaseS: Map[String, Double], extra: Map[String, Double],
      engine: Counters, atBuild: Counters)

  /** `wallS` is the program's time (the sum over calls); `processCpuS` is
    * the JVM's CPU time over the whole pass, JIT compiler and GC threads
    * included. */
  final case class PassResult(traced: Boolean, wallS: Double,
      processCpuS: Double, calls: Seq[CallResult], engine: Counters)

  private def seconds(t0: Long) = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val cores = Runtime.getRuntime.availableProcessors
    val wl = Workload(o.workload, o.work, cores, o.sfDir)

    val setupS = (1 to SetupRounds).map { _ =>
      SparkSession.getActiveSession.foreach(_.stop())
      System.gc() // every round starts from the same heap state
      val t0 = System.nanoTime()
      wl.prepare(session(cores, o.work), o.seed)
      seconds(t0)
    }
    val spark = SparkSession.active
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)

    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    var nextPass = 0
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0L

    def runPass(kind: String, traced: Boolean = false): PassResult = {
      val p = nextPass
      nextPass += 1
      rec.tracing = traced
      val t0ms = System.currentTimeMillis()
      val cpu0 = osBean.getProcessCpuTime
      val done = wl.calls(spark, o.seed).zipWithIndex.map { case (c, i) =>
        val ctx = new CallCtx(spark, s"p$p/c$i")
        val err =
          try c.run(ctx)
          catch { case NonFatal(e) => Some(s"${c.name} threw $e") }
        if (traced && ctx.phaseS.nonEmpty)
          rec.addSpan(Span(ctx.group, s"pass:$p", c.layer, c.name, ctx.group,
            ctx.startMs, ctx.endMs))
        attempted += 1
        err.foreach { e =>
          failures += s"pass $p: $e"
          System.err.println(s"[perfbench] FAILED $e")
        }
        (c, ctx)
      }
      if (traced)
        rec.addSpan(Span(s"pass:$p", "", "pass", wl.name, "", t0ms,
          System.currentTimeMillis()))
      PerfbenchBus.drain(spark.sparkContext)
      rec.tracing = false
      val calls = done.map { case (c, ctx) =>
        CallResult(c, ctx.programS, ctx.phaseS.toMap, ctx.extra.toMap,
          rec.total(ctx.group + "/"), rec.total(ctx.group + "/build"))
      }
      val wall = calls.map(_.wallS).sum
      val cpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
      System.err.println(
        f"[perfbench] pass $p%d $kind${if (traced) " traced" else ""}%s " +
        f"$wall%.3f s (process cpu $cpuS%.1f s): " +
        calls.map(c => f"${c.call.name} ${c.wallS}%.2f").mkString(", "))
      PassResult(traced, wall, cpuS, calls, rec.total(s"p$p/"))
    }

    val cold = runPass("cold")
    wl.afterCold(spark)

    val warm = Seq.fill(WarmupPasses)(runPass("warm-up"))

    val measured = mutable.ArrayBuffer.empty[PassResult]
    val m0 = System.nanoTime()
    // stop at the pass boundary nearest to the window's end
    while (measured.size < MinPasses ||
        seconds(m0) + Metrics.median(measured.map(_.wallS).toSeq) / 2 < o.seconds)
      measured += runPass("measured", traced = o.trace && measured.size % 2 == 1)

    val untraced = measured.filterNot(_.traced).toSeq
    val traced = measured.filter(_.traced).toSeq
    val report = Metrics.report(cores, setupS, cold, untraced,
      traced, measured.toSeq, attempted, failures.size, rec.spans)

    if (o.trace) {
      Files.createDirectories(o.traceDir)
      val stem = s"${wl.name}-s${o.seed}"
      Files.writeString(o.traceDir.resolve(s"$stem.spans.jsonl"),
        rec.spans.map(Metrics.spanJson).mkString("", "\n", "\n"))
      Files.writeString(o.traceDir.resolve(s"$stem.selftime.md"),
        Metrics.selfTimeTable(wl.name, rec.spans, traced.size, report))
    }

    val json = Json.obj(Seq(
      "workload" -> Json.str(wl.name),
      "seed" -> o.seed.toString,
      "attempted" -> attempted.toString,
      "failed" -> failures.size.toString,
      "failures" -> failures.take(20).map(Json.str).mkString("[", ",", "]"),
      "host" -> Json.obj(Seq(
        "cores" -> cores.toString,
        "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString)),
      "inputs" -> Json.obj(wl.describe.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.str(v) }),
      "samples" -> Json.obj(Seq(
        "setup_rounds" -> setupS.size.toString,
        "warmup_passes" -> warm.size.toString,
        "measured_passes" -> untraced.size.toString,
        "traced_passes" -> traced.size.toString)),
      "end_to_end" -> Metrics.json(report.endToEnd),
      "per_layer" -> Metrics.json(report.perLayer)))
    Files.writeString(o.out, json + "\n")
    spark.stop()
  }
}

/** Minimal JSON writing; numbers are passed in already formatted. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
}
