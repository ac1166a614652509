package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Engine counters of one job group, or of several merged. Times are
  * milliseconds except `cpuNs`. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var busyMs, cpuNs, schedWaitMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, resultBytes = 0L
  var inputBytes, inputRecords = 0L
  // the stage with the longest single task, and max / median task time there
  var worstTaskMs = 0L
  var worstSkew = 1.0

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; busyMs += o.busyMs; cpuNs += o.cpuNs
    schedWaitMs += o.schedWaitMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; resultBytes += o.resultBytes
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    if (o.worstTaskMs > worstTaskMs) {
      worstTaskMs = o.worstTaskMs; worstSkew = o.worstSkew
    }
    this
  }
}

/** One timed interval: a pass, a benchmark call, a Spark job or a stage.
  * Times are epoch milliseconds, the clock Spark's listener events use. */
final case class Span(id: String, parent: String, kind: String,
    name: String, callId: String, start: Long, end: Long)

/** The benchmark's own listener. Every job is attributed to the job group
  * the harness sets around each call phase (`p<pass>/c<call>/<phase>`);
  * stages and tasks inherit the group of the job that first submitted
  * them. Job and stage spans are kept only while `tracing` is on. */
final class Recorder extends SparkListener {
  @volatile var tracing = false

  private val byGroup = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val jobStart = mutable.HashMap.empty[Int, (Long, String)]
  private val spanBuf = mutable.ArrayBuffer.empty[Span]

  private def counters(group: String) =
    byGroup.getOrElseUpdate(group, new Counters)

  /** The call a group belongs to: `p1/c2/build` -> `p1/c2`. */
  private def callOf(group: String) = group.split('/').take(2).mkString("/")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    counters(group).jobs += 1
    e.stageInfos.foreach { si =>
      if (!stageGroup.contains(si.stageId)) {
        stageGroup(si.stageId) = group
        stageJob(si.stageId) = e.jobId
      }
    }
    jobStart(e.jobId) = (e.time, group)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, group) =>
      if (tracing)
        spanBuf += Span(s"job:${e.jobId}", callOf(group), "job",
          s"job ${e.jobId}", callOf(group), t0, e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      counters(stageGroup.getOrElse(id, "none")).stages += 1
      stageSubmit(id) = e.stageInfo.submissionTime
        .getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, "none"))
    val info = e.taskInfo
    val ms = math.max(0L, info.finishTime - info.launchTime)
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    c.busyMs += ms
    c.schedWaitMs += math.max(0L,
      info.launchTime - stageSubmit.getOrElse(e.stageId, info.launchTime))
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += ms
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.resultBytes += m.resultSize
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val group = stageGroup.getOrElse(si.stageId, "none")
      stageTaskMs.remove(si.stageId).filter(_.nonEmpty).foreach { ts =>
        val sorted = ts.sorted
        val max = sorted.last
        val c = counters(group)
        if (max > c.worstTaskMs) {
          c.worstTaskMs = max
          c.worstSkew = max.toDouble / math.max(1L, sorted(sorted.size / 2))
        }
      }
      if (tracing) {
        val t0 = si.submissionTime.getOrElse(0L)
        val t1 = si.completionTime.getOrElse(t0)
        val job = stageJob.getOrElse(si.stageId, -1)
        spanBuf += Span(s"stage:${si.stageId}.${si.attemptNumber()}",
          s"job:$job", "stage", si.name, callOf(group), t0, t1)
      }
      stageSubmit.remove(si.stageId)
    }

  /** Merged counters of every group whose id starts with `prefix`. */
  def total(prefix: String): Counters = synchronized {
    byGroup.iterator.collect { case (g, c) if g.startsWith(prefix) => c }
      .foldLeft(new Counters)(_.add(_))
  }

  def addSpan(s: Span): Unit = synchronized { spanBuf += s }

  def spans: Seq[Span] = synchronized { spanBuf.toList }
}
