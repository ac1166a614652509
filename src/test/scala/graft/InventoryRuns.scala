package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** One build and one `collect()` of every registered query in the
  * shared test session, once per JVM. The inventory sweeps read these
  * facts instead of re-running the queries: InventorySpec the row
  * counts, PlanHygieneSpec the joins planned before execution,
  * PlanBudgetSpec the shuffle summaries, and the default legs of
  * AqeParitySpec and NoBroadcastParitySpec the canonical rows and the
  * joins after execution. Only these facts are kept, never the
  * DataFrames, so no cached block, shuffle file or broadcast stays
  * pinned across suites.
  */
object InventoryRuns extends AdaptiveSparkPlanHelper {

  /** One query's run: result size and rows, the NL/cartesian joins of
    * its plan before and after execution, and the shuffles it ran. */
  final case class Run(rows: Long, canonRows: Seq[Seq[Any]],
      nlJoinsBefore: Seq[String], nlJoinsAfter: Seq[String],
      shuffle: Metrics.ShuffleSummary)

  /** Canonical cells, doubles/floats by bit pattern (-0.0 != +0.0, any
    * NaN equal — exactly tools/check.py's cells_equal), rows sorted. */
  def canon(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case f: Float  => java.lang.Float.floatToIntBits(f)
      case x => x
    }).sortBy(_.mkString("\u0000"))

  /** The nested-loop and cartesian joins in a physical plan. On an
    * adaptive plan this is the initial plan before execution and the
    * final one after. */
  def nlJoins(plan: SparkPlan): Seq[String] = collect(plan) {
    case j: BroadcastNestedLoopJoinExec => j.getClass.getSimpleName
    case j: CartesianProductExec        => j.getClass.getSimpleName
  }.distinct

  /** Settings the default legs of the parity sweeps ran with when each
    * had its own `newSession()`; the shared session must match them. */
  private val sweepKeys = Seq("spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold")

  private var recorded: Option[(String, Map[String, Either[String, Run]])] =
    None

  /** Every registered query's run (or the error it threw) at `sfDir`,
    * run on first use and kept for the rest of the JVM. */
  def apply(spark: SparkSession, sfDir: String)
      : Map[String, Either[String, Run]] = synchronized {
    recorded match {
      case Some((dir, runs)) =>
        require(dir == sfDir, s"recorded at $dir, asked for $sfDir")
        runs
      case None =>
        val runs = runAll(spark, sfDir)
        recorded = Some(sfDir -> runs)
        runs
    }
  }

  /** One query's run; throws with the recorded error if it failed. */
  def apply(spark: SparkSession, sfDir: String, name: String): Run =
    apply(spark, sfDir)(name).fold(
      e => throw new IllegalStateException(s"$name failed: $e"), identity)

  private def runAll(spark: SparkSession, sfDir: String)
      : Map[String, Either[String, Run]] = {
    val fresh = spark.newSession()
    for (k <- sweepKeys)
      require(spark.conf.getOption(k) == fresh.conf.getOption(k),
        s"$k is ${spark.conf.getOption(k)} in the shared session but " +
          s"${fresh.conf.getOption(k)} in a new one")
    require(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "the shared session must run adaptive execution")
    val t0 = System.nanoTime()
    var executed = 0
    val runs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      spark.catalog.clearCache()
      name -> (try {
        val df = fn(spark, sfDir)
        val before = nlJoins(df.queryExecution.executedPlan)
        executed += 1
        // collect() runs THIS dataset's own QueryExecution, so metrics
        // land on the plan shuffleSummary reads (toRdd trips a Spark
        // attribute-binding error on ann_ivf_int's deduped self-join)
        val rows = canon(df)
        Right(Run(rows.size.toLong, rows, before,
          nlJoins(df.queryExecution.executedPlan),
          Metrics.shuffleSummary(df)))
      } catch {
        case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}")
      })
    }.toMap
    spark.catalog.clearCache()
    println(f"[inventory-runs] $executed of ${runs.size} registered " +
      f"queries built and executed once in the default session at " +
      f"$sfDir in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    runs
  }
}
