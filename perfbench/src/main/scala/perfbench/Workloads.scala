package perfbench

import java.nio.file.{Files, Path}

import graft.SparkEntry
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import graft.mapreduce.{Lecture, MinUniquePrefix, Main => MrMain}
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The harness side of one call: each phase runs under its own job group
  * (`<call>/<phase>`) and is timed. Only phases count as the program's
  * time; the harness's checks and clean-up run outside them. */
final class CallCtx(spark: SparkSession, val group: String) {
  val phaseS = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.HashMap.empty[String, Double]
  /** Epoch ms of the first phase's start and the last phase's end. */
  var startMs, endMs = 0L

  def phase[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(s"$group/$name", name, interruptOnCancel = false)
    if (phaseS.isEmpty) startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      phaseS(name) = (System.nanoTime() - t0) / 1e9
      endMs = System.currentTimeMillis()
      sc.clearJobGroup()
    }
  }

  /** The program's time in this call. */
  def programS: Double = phaseS.values.sum
}

/** One call of a pass. `run` returns None when the answer is right and a
  * message when it is wrong; a throw also counts as a failure. `part` is
  * the workload part the call belongs to, `layer` the program layer it
  * enters, `metric` its per-layer time metric and `rows` the number of
  * input rows it consumes. */
final case class Call(part: String, name: String, layer: String,
    metric: String, rows: Long)(val run: CallCtx => Option[String])

trait Workload {
  def name: String
  /** Input generation and ground truth: the set-up work of one round. */
  def prepare(spark: SparkSession, seed: Long): Unit
  /** The calls of one pass, in the order they run. */
  def calls(spark: SparkSession, seed: Long): Seq[Call]
  /** Work done once after the cold pass (reference results). */
  def afterCold(spark: SparkSession): Unit = ()
  /** What the result file should record about the inputs. */
  def describe: Map[String, String]
}

object Workload {
  def apply(name: String, work: Path, cores: Int, sfDir: String): Workload =
    name match {
      case "mapreduce" => new MapReduceMix(work, cores)
      case "query_mix" => new QueryMix(work, sfDir)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (mapreduce, query_mix)")
    }

  def expect[T](what: String, got: T, want: T): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}

import Workload.expect

/** The reference MapReduce surface: the bulk calls, then the shipped
  * client loop, in every pass. */
final class MapReduceMix(work: Path, cores: Int) extends Workload {
  val name = "mapreduce"
  private val parts = Seq(new MrBulk(work, cores), new MrIterative(work))

  def prepare(spark: SparkSession, seed: Long): Unit =
    parts.foreach(_.prepare(spark, seed))

  def calls(spark: SparkSession, seed: Long): Seq[Call] =
    parts.flatMap(_.calls(spark, seed))

  def describe: Map[String, String] = parts.flatMap { p =>
    p.describe.map { case (k, v) => s"${p.name}.$k" -> v }
  }.toMap
}

/** The reference query and the lecture tasks on one large file each. */
final class MrBulk(work: Path, cores: Int) extends Workload {
  val name = "bulk"
  private val nEmails = 20000
  private val nInts = 20000
  private val MaxLen = 64
  private val PrefixLen = 6
  private var emails: Path = _
  private var ints: Path = _
  private var minLen, words, sumSq, distinctAbs = 0L

  def prepare(spark: SparkSession, seed: Long): Unit = {
    val e = Inputs.emails(seed, nEmails, PrefixLen)
    val i = Inputs.ints(seed, nInts)
    emails = Inputs.write(work.resolve("inputs"), s"emails-s$seed-n$nEmails.txt", e)
    ints = Inputs.write(work.resolve("inputs"), s"ints-s$seed-n$nInts.txt", i)
    minLen = Inputs.minUniqueLen(e, MaxLen)
    words = Inputs.wordCounts(e).size
    sumSq = Inputs.sumOfSquares(i)
    distinctAbs = Inputs.distinctAbs(i)
  }

  def describe: Map[String, String] = Map(
    "emails" -> nEmails.toString, "ints" -> nInts.toString,
    "min_unique_len" -> minLen.toString, "mappers" -> cores.toString,
    "reducers" -> cores.toString)

  def calls(spark: SparkSession, seed: Long): Seq[Call] = {
    def lines(p: Path): Dataset[String] = spark.read.textFile(p.toString)
    val (m, r) = (cores, cores)
    Seq(
      Call(name, "minUniqueLen", "mapreduce", "mapreduce.min_unique_len_s", nEmails) { c =>
        expect("minUniqueLen", c.phase("run")(
          MinUniquePrefix.minUniqueLen(lines(emails), MaxLen)).toLong, minLen)
      },
      Call(name, "find", "mapreduce", "mapreduce.find_s", nEmails) { c =>
        expect("find", c.phase("run")(
          MinUniquePrefix.find(lines(emails), MaxLen)).toLong, minLen)
      },
      Call(name, "findViaMapReduce", "mapreduce", "mapreduce.find_via_mapreduce_s", nEmails) { c =>
        expect("findViaMapReduce", c.phase("run")(
          MinUniquePrefix.findViaMapReduce(spark, lines(emails), MaxLen, m, r)).toLong,
          minLen)
      },
      Call(name, "wordCountViaMapReduce", "mapreduce",
          "mapreduce.word_count_via_mapreduce_s", nEmails) { c =>
        expect("wordCountViaMapReduce distinct words", c.phase("run")(
          Lecture.wordCountViaMapReduce(spark, lines(emails), m, r).count()), words)
      },
      Call(name, "sumOfSquaresViaMapReduce", "mapreduce",
          "mapreduce.sum_squares_via_mapreduce_s", nInts) { c =>
        expect("sumOfSquaresViaMapReduce", c.phase("run")(
          Lecture.sumOfSquaresViaMapReduce(spark, lines(ints), m, r)), sumSq)
      },
      Call(name, "countDistinctAbsViaMapReduce", "mapreduce",
          "mapreduce.count_distinct_abs_via_mapreduce_s", nInts) { c =>
        expect("countDistinctAbsViaMapReduce", c.phase("run")(
          Lecture.countDistinctAbsViaMapReduce(spark, lines(ints), m, r)),
          distinctAbs)
      })
  }
}

/** The reference's client loop as shipped (M = 3, R = 2), over small
  * files: many tiny jobs, each writing the reference's file sinks. */
final class MrIterative(work: Path) extends Workload {
  val name = "iterative"
  // (lines, min unique prefix) per file
  private val shapes = Seq((800, 4), (1600, 5))
  private val MaxLen = 8
  private var files = Seq.empty[(Path, Long, Int)] // path, truth, lines

  def prepare(spark: SparkSession, seed: Long): Unit =
    files = shapes.zipWithIndex.map { case ((n, len), i) =>
      val ls = Inputs.emails(seed + i, n, len)
      (Inputs.write(work.resolve("inputs"), s"prefix-s$seed-f$i-n$n.txt", ls),
        Inputs.minUniqueLen(ls, MaxLen).toLong, n)
    }

  def describe: Map[String, String] = Map(
    "files" -> shapes.size.toString,
    "lines" -> shapes.map(_._1).mkString("+"),
    "min_unique_len" -> files.map(_._2).mkString(","),
    "mappers" -> "3", "reducers" -> "2")

  def calls(spark: SparkSession, seed: Long): Seq[Call] =
    files.zipWithIndex.flatMap { case ((path, truth, n), i) =>
      val out = work.resolve("sinks").resolve(s"f$i")
      Seq(
        Call(name, s"findIteratively[$i]", "mapreduce", "mapreduce.find_iteratively_s", n) { c =>
          deleteTree(out)
          val got = c.phase("run")(MrMain.findIteratively(spark, path.toString,
            out.toString, mappers = 3, reducers = 2, MaxLen, debug = i % 2 == 0))
          val (count, bytes) = sinkSize(out)
          c.extra("sink_files") = count.toDouble
          c.extra("sink_bytes") = bytes.toDouble
          expect(s"findIteratively[$i]", got.toLong, truth)
        },
        Call(name, s"find[$i]", "mapreduce", "mapreduce.find_s", n) { c =>
          expect(s"find[$i]", c.phase("run")(MinUniquePrefix.find(
            spark.read.textFile(path.toString), MaxLen)).toLong, truth)
        })
    }

  /** (files, bytes) under `p`. */
  private def sinkSize(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try {
      val fs = s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      (fs.size.toLong, fs.map(Files.size).sum)
    } finally s.close()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toList.reverse.foreach(Files.delete)
      finally s.close()
    }
}

/** Registered inventory queries on the fixed sf tables, through
  * `SparkEntry.queries`, in one seed-shuffled order for the whole run.
  * Each call builds the DataFrame, collects it (the results are at most a
  * few thousand rows) and compares the rows with the query's cold-pass
  * result; that result is written as parquet so the DuckDB oracle can
  * check it. */
final class QueryMix(work: Path, sfDir: String) extends Workload {
  val name = "query_mix"
  // query -> (per-layer metric, tables it reads)
  private val queries: Seq[(String, String, Seq[String])] = Seq(
    ("q5_region_revenue", "operators.relational_s",
      Seq("region", "nation", "customer", "supplier", "orders", "lineitem")),
    ("q21_waiting_supplier", "operators.relational_s",
      Seq("supplier", "lineitem", "orders", "nation")),
    ("dedup_jaccard_prefix", "operators.dedup_s", Seq("documents")),
    ("stream_resolve_pruned", "streaming.resolve_pruned_s", Seq("documents")),
    ("mr_word_count", "operators.lecture_sql_s", Seq("documents")))
  private var tableRows = Map.empty[String, Long]
  // query -> (schema, rows, canonical rows) of its cold-pass call
  private val reference =
    mutable.HashMap.empty[String, (StructType, Array[Row], Vector[String])]

  /** Row counts from the parquet footers: no Spark job. */
  def prepare(spark: SparkSession, seed: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    tableRows = queries.flatMap(_._3).distinct.map { t =>
      val in = HadoopInputFile.fromPath(new HPath(s"$sfDir/$t.parquet"), conf)
      val r = ParquetFileReader.open(in)
      try t -> r.getRecordCount finally r.close()
    }.toMap
  }

  def describe: Map[String, String] = Map(
    "sf_dir" -> sfDir, "queries" -> queries.map(_._1).mkString(","),
    "input_rows_per_pass" -> queries.map(_._3.map(tableRows).sum).sum.toString)

  def calls(spark: SparkSession, seed: Long): Seq[Call] = {
    val order = new scala.util.Random(seed).shuffle(queries)
    order.map { case (q, metric, tables) =>
      val layer = metric.takeWhile(_ != '.')
      Call(name, q, layer, metric, tables.map(tableRows).sum) { c =>
        val run = SparkEntry.queries(q)
        val df = c.phase("build")(run(spark, sfDir))
        val rows = c.phase("action")(df.collect())
        reference.get(q) match {
          case None =>
            reference(q) = (df.schema, rows, Canon.rows(rows))
            None
          case Some((_, _, ref)) =>
            if (Canon.rows(rows) == ref) None
            else Some(s"$q: result differs from its cold-pass result")
        }
      }
    }
  }

  override def afterCold(spark: SparkSession): Unit = {
    val dir = work.resolve("ref")
    Files.createDirectories(dir)
    reference.foreach { case (q, (schema, rows, _)) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(q).toString)
    }
    val oracle = SparkEntry.oracleSql
    val sql = queries.map(_._1).filter(reference.contains)
      .map(q => Json.str(q) + ":" + Json.str(oracle(q)))
    Files.writeString(dir.resolve("oracle_sql.json"),
      sql.mkString("{", ",", "}"))
  }
}

/** Order-free, type- and IEEE-bit-strict canonical form of a result. */
object Canon {
  def rows(rs: Array[Row]): Vector[String] =
    rs.map(r => r.toSeq.map(cell).mkString("\u0001")).sorted.toVector

  private def cell(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => "d" + java.lang.Double.doubleToLongBits(d)
    case f: Float => "f" + java.lang.Float.floatToIntBits(f)
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("b", "", "")
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted
        .mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case o => o.getClass.getSimpleName + ":" + o
  }
}
