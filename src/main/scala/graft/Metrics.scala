package graft

import scala.collection.mutable

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
  ShuffleExchangeLike}

/** Post-execution plan observability: per-query shuffle volumes read
  * straight off the executed plan's SQLMetrics — the numbers an operator
  * of a 1000-executor job actually watches (a plan that "works" but
  * shuffles the corpus twice shows up here, not in row counts).
  *
  * Usage: run an action on the DataFrame, then call [[shuffleSummary]] on
  * the SAME DataFrame instance (metrics live on its executed plan).
  * `graft.Explain --run <query>` executes the audited plan and prints
  * this summary; tests assert on it directly (MetricsSpec).
  *
  * [[record]] is the per-run view Bench writes: the Spark jobs one query
  * launches, split by when (while its DataFrame is built, or in the
  * action) and labelled by the stage that launched them ([[labelled]]).
  */
object Metrics {

  final case class ShuffleSummary(exchanges: Int, recordsWritten: Long,
      bytesWritten: Long)

  /** All physical nodes including those hidden inside AQE's re-planned
    * stages (`collect` on an adaptive plan stops at stage boundaries —
    * without unwrapping, every post-AQE Exchange is invisible) and inside
    * cached subplans (`InMemoryTableScanExec` is a leaf whose
    * `relation.cachedPlan` holds the exchanges that populate the cache —
    * without descending, every shuffle behind a `.cache()` is invisible
    * and a query's measured volume understates what actually ran) and
    * behind reused exchanges (a `ReusedExchangeExec` is a leaf pointing
    * at the exchange that ran — whose own site AQE may since have pruned
    * from the final plan, e.g. a branch that turned out empty). */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val children = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec        => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case other                    => other.children
    }
    p +: children.flatMap(allNodes)
  }

  /** Every executed-plan node, with AQE stages and cached subplans
    * unwrapped — the same walk [[shuffleSummary]] uses, exposed so specs
    * can assert on plan SHAPE (e.g. "this join ran with skew=true",
    * "this side broadcast") rather than only on exchange counts. */
  def executedNodes(df: DataFrame): Seq[SparkPlan] =
    allNodes(df.queryExecution.executedPlan)

  /** Total shuffle write across every distinct exchange in the executed
    * plan. Call AFTER an action; metrics on an unexecuted plan are zero.
    *
    * Exchanges are deduped by CANONICALIZED plan, not node identity: a
    * cached subplan scanned from two branches reaches `allNodes` twice
    * but its populating shuffle is one plan node — and, separately,
    * AQE's query-stage reuse is BEST-EFFORT under concurrent stage
    * submission, so two physically distinct copies of the same exchange
    * occasionally both materialize in one run (observed: the cached
    * bigram-count aggregate flipping a measured count 7 → 8 with zero
    * source change). The budget specs exist to catch plan regressions —
    * a refactor adding a NEW shuffle — so the count and volume reflect
    * the distinct shuffles the PLAN contains; per canonical group we
    * take the max copy's metrics (racing copies write the same data). */
  def shuffleSummary(df: DataFrame): ShuffleSummary = {
    val nodes = allNodes(df.queryExecution.executedPlan)
    val groups = nodes.collect { case e: ShuffleExchangeLike => e }
      .foldLeft(Vector.empty[ShuffleExchangeLike]) { (acc, e) =>
        if (acc.exists(_ eq e)) acc else acc :+ e
      }
      .groupBy(_.canonicalized)
    def metric(e: SparkPlan, name: String): Long =
      e.metrics.get(name).map(_.value).getOrElse(0L)
    def maxOf(name: String): Long =
      groups.values.map(_.map(metric(_, name)).max).sum
    ShuffleSummary(
      exchanges = groups.size,
      recordsWritten = maxOf("shuffleRecordsWritten"),
      bytesWritten = maxOf("shuffleBytesWritten"))
  }

  /** One run of a query: wall seconds of build + action, the jobs
    * launched while the DataFrame was built (eager checkpoints, memo
    * builds, fixture writes), the shuffle bytes all its jobs wrote, and
    * one `(label, milliseconds)` entry per job. A job's label is its job
    * description (the stage labels set with [[labelled]]), or `build` /
    * `action` when none is set. */
  final case class RunRecord(seconds: Double, jobsAtBuild: Int,
      shuffleWriteBytes: Long, jobs: Seq[(String, Long)]) {
    def jobSeconds: Map[String, Double] =
      jobs.groupMapReduce(_._1)(_._2)(_ + _).map { case (l, ms) =>
        l -> ms / 1e3
      }
  }

  private val GroupKey = "spark.jobGroup.id"
  private val DescriptionKey = "spark.job.description"

  /** Runs `body` with the job description set to `label`, so every job
    * it launches carries that label into [[RunRecord.jobs]]; the caller's
    * description is restored afterwards. */
  def labelled[T](spark: SparkSession, label: String)(body: => T): T =
    withProperty(spark.sparkContext, DescriptionKey, label)(body)

  private def withProperty[T](sc: SparkContext, key: String,
      value: String)(body: => T): T = {
    val caller = sc.getLocalProperty(key)
    sc.setLocalProperty(key, value)
    try body finally sc.setLocalProperty(key, caller)
  }

  /** Builds a query with `build` and runs `action` on it, each under a job
    * group of its own (`<name>/build`, `<name>/action`), and reads the
    * jobs of both groups back into a [[RunRecord]]. The caller's job
    * group and description are left as they were. */
  def record(spark: SparkSession, name: String)(build: => DataFrame)(
      action: DataFrame => Unit): RunRecord = {
    val sc = spark.sparkContext
    val log = new JobLog(name)
    sc.addSparkListener(log)
    try {
      val t0 = System.nanoTime()
      val df = withProperty(sc, GroupKey, s"$name/build")(build)
      withProperty(sc, GroupKey, s"$name/action")(action(df))
      val seconds = (System.nanoTime() - t0) / 1e9
      ListenerBusDrain(sc)
      log.synchronized {
        RunRecord(seconds, log.atBuild, log.shuffleBytes, log.done.toSeq)
      }
    } finally sc.removeSparkListener(log)
  }

  /** The jobs of one [[record]] run, filled on the listener-bus thread. */
  private final class JobLog(name: String) extends SparkListener {
    private val started = mutable.Map.empty[Int, (String, Long)]
    private val stages = mutable.Set.empty[Int]
    val done = mutable.ArrayBuffer.empty[(String, Long)]
    var atBuild = 0
    var shuffleBytes = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = e.properties
      val group = if (p == null) null else p.getProperty(GroupKey)
      if (group == s"$name/build" || group == s"$name/action") {
        val phase = group.substring(name.length + 1)
        if (phase == "build") atBuild += 1
        started(e.jobId) =
          (Option(p.getProperty(DescriptionKey)).getOrElse(phase), e.time)
        stages ++= e.stageIds
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (label, t0) =>
        done += label -> (e.time - t0)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val info = e.stageInfo
        if (stages(info.stageId) && info.taskMetrics != null)
          shuffleBytes += info.taskMetrics.shuffleWriteMetrics.bytesWritten
      }
  }
}
