package graft.mapreduce

import org.apache.hadoop.fs.Path
import org.apache.spark.{Partitioner, RangePartitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import scala.reflect.ClassTag

/** Generic MapReduce job API — capability parity with the reference's
  * `otus::PrefixFindRunner` (reference src/mapreduce.hpp:21-81), re-expressed
  * Spark-first:
  *
  *   - user mapper `String => IterableOnce[(K, V)]` is the reference's
  *     flatMap-shaped `mapper_func_type` (src/mapreduce.hpp:26);
  *   - user reducer `Iterator[(K, V)] => R` is the ordered streaming
  *     reducer (`reducer_func_type`, src/mapreduce.hpp:27) — it sees each
  *     partition's pairs in ascending key order, with all equal keys
  *     co-located, exactly the shuffle guarantees spec'd in
  *     reference description/homework/mapreduce.h:39-46;
  *   - `merge` folds the R per-partition results into the job result, the
  *     reference's final aggregate (src/runner.cpp:68-76, which hard-codes
  *     boolean AND; here it is pluggable so the lecture tasks run through
  *     the same framework, per description/homework/mapreduce.h:9-10).
  *
  * Everything the reference hand-builds — line-aligned byte-range splits
  * (src/mapreduce.cpp:111-137), the external K-way merge shuffle
  * (src/mapreduce.cpp:139-189), key-boundary alignment
  * (src/mapreduce.cpp:191-261) — is Spark's RDD shuffle: the text input
  * format's splits, a `RangePartitioner`, and a `ShuffledRDD` whose reduce
  * side sorts with `ExternalSorter`; no custom machinery. The reference's
  * client-reducer data race (function-local statics shared across reducer
  * threads, src/main.cpp:76-77) is structurally impossible here: each
  * partition's reducer gets its own iterator.
  *
  * A round runs on RDDs rather than a Dataset plan because the mapper and
  * reducer are opaque closures Catalyst cannot optimize: a per-round
  * Dataset plan only added planning and AQE job splits (4 Spark jobs per
  * round). A round is 2 jobs — the `RangePartitioner`'s key sample, then
  * shuffle plus reduce. The sample re-reads a map partition that holds
  * over three times its share, which adds a third job.
  *
  * Scale note: the `RangePartitioner` samples keys to build contiguous,
  * roughly-equal, non-overlapping ranges — the same three guarantees the
  * reference spec demands — and `ExternalSorter` spills sorted runs to
  * disk, so the reference's external-memory constraint
  * (mapreduce.h:16-20) holds at any data size.
  *
  * Behaviour to know:
  *
  *   - M caps the number of map tasks: the input is narrowed with
  *     `coalesce(M)`. An input with fewer partitions keeps them; it is not
  *     reshuffled up to M.
  *   - Keys are partitioned and sorted by `Ordering[K]`, not Spark SQL's
  *     byte order. For `String` that is UTF-16 code-unit order
  *     (`String.compareTo`), which differs from UTF-8 byte order only
  *     between surrogate pairs and U+E000–U+FFFF.
  *   - No input records means one empty reduce partition: the job result is
  *     `reducer(Iterator.empty)`.
  */
final class MapReduceJob[K: Ordering: ClassTag, V: ClassTag, R: ClassTag](
    mappers: Int,
    reducers: Int,
    mapper: String => IterableOnce[(K, V)],
    reducer: Iterator[(K, V)] => R,
    merge: (R, R) => R)
    extends Serializable {

  /** Run over an in-memory/derived Dataset of lines. */
  def run(lines: Dataset[String]): R =
    reduceRound(lines.rdd).reduce(merge) // aggregate (runner.cpp:68-76)

  /** Run over a newline-delimited text file — the reference's only source
    * (reference src/mapreduce.cpp:19,26-29). Spark's text reader does the
    * line-aligned byte-range splitting (O1) natively.
    */
  def run(spark: SparkSession, inputPath: String): R =
    reduceRound(spark.sparkContext.textFile(inputPath, mappers)).reduce(merge)

  /** Run with the reference's file-layout sinks (O12, reference
    * src/runner.cpp:18-19,45-47,65-78): under `outDir`,
    *
    *   - `mapper/part-*` — one sorted run per map task, in the reducers'
    *     key order, as `"key value"` text (reference mapper/map.N.txt
    *     format, src/mapreduce.cpp:51); written only when `debug` (the
    *     files are an inter-"node" transport in the reference, pure I/O
    *     overhead here — the real shuffle is Spark's);
    *   - `reducer/reduce.N.txt` — one formatted result per reduce
    *     partition (reference reducer/reduce.N.txt);
    *   - `result.txt` — the merged job result.
    *
    * Returns the merged result like [[run]].
    */
  def runWithSinks(spark: SparkSession, inputPath: String, outDir: String,
      debug: Boolean = false)(format: R => String): R = {
    val lines = spark.sparkContext.textFile(inputPath, mappers)
    if (debug) writeMapperRuns(lines, s"$outDir/mapper")
    val perPartition = reduceRound(lines)
    val dir = java.nio.file.Paths.get(outDir, "reducer")
    java.nio.file.Files.createDirectories(dir)
    perPartition.zipWithIndex.foreach { case (res, i) =>
      java.nio.file.Files.writeString(dir.resolve(s"reduce.$i.txt"), format(res))
    }
    val result = perPartition.reduce(merge)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "result.txt"), format(result))
    result
  }

  /** The per-partition reducer results in key-range order; one
    * `reducer(Iterator.empty)` when there are no reduce partitions. */
  private def reduceRound(lines: RDD[String]): Array[R] = {
    val r = reducer // avoid capturing `this` in task closures
    val parts = MapReduceJob.round(lines, mappers, reducers, mapper)(
      it => Iterator.single(r(it))).collect()
    if (parts.nonEmpty) parts else Array(r(Iterator.empty))
  }

  /** Debug sink: each map task's pairs as one run sorted by `Ordering[K]`.
    * A shuffle keyed by (map task, key) sends every pair back to its own
    * task's partition, so the sort is `ExternalSorter`'s and spills instead
    * of holding a map partition in memory. */
  private def writeMapperRuns(lines: RDD[String], dir: String): Unit = {
    val mapped = MapReduceJob.mapSide(lines, mappers, mapper)
    val out = new Path(dir)
    out.getFileSystem(lines.context.hadoopConfiguration).delete(out, true)
    mapped
      .mapPartitionsWithIndex((task, it) => it.map { case (k, v) => ((task, k), v) })
      .repartitionAndSortWithinPartitions(
        new MapReduceJob.ByMapTask(mapped.getNumPartitions))
      .map { case ((_, k), v) => s"$k $v" }
      .saveAsTextFile(dir)
  }
}

object MapReduceJob {

  /** M map tasks (runner.cpp:14-29) running the user mapper
    * (mapreduce.cpp:31). */
  private def mapSide[K, V](lines: RDD[String], mappers: Int,
      mapper: String => IterableOnce[(K, V)]): RDD[(K, V)] =
    lines.coalesce(mappers).flatMap(mapper)

  /** One round: map side, range shuffle (mapreduce.cpp:139-189) into
    * sorted runs (mapreduce.cpp:32-33), then `reduce` on each reduce
    * partition (mapreduce.cpp:59-109). */
  private def round[K: Ordering: ClassTag, V: ClassTag, O: ClassTag](
      lines: RDD[String], mappers: Int, reducers: Int,
      mapper: String => IterableOnce[(K, V)])(
      reduce: Iterator[(K, V)] => Iterator[O]): RDD[O] = {
    val mapped = mapSide(lines, mappers, mapper)
    mapped
      .repartitionAndSortWithinPartitions(new RangePartitioner(reducers, mapped))
      .mapPartitions(reduce)
  }

  /** Routes a `(map task, key)` pair back to its map task's partition. */
  private final class ByMapTask(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = key.asInstanceOf[(Int, _)]._1
  }

  /** STREAMING-reduce job: the same map → range-shuffle → sorted-run
    * pipeline as [[MapReduceJob.run]], but the reduce partition emits an
    * output stream that remains a distributed Dataset instead of a
    * collect()ed per-partition value. This is the scale path when the
    * reduce result is data-sized (e.g. a vocabulary of word counts);
    * only jobs whose result is a bounded summary belong in [[run]]'s
    * driver-side merge. Deliberately NOT a method on [[MapReduceJob]]:
    * a streaming job has no `reducer`/`merge`, and forcing callers to
    * supply dummies whose `run()` would compute something different is
    * a trap. Shuffle guarantees (equal keys co-located, ascending key
    * order within each partition) are identical.
    *
    * Like `RDD.sortByKey`, the range-sample job runs when this method is
    * called; the shuffle and the reducer run with the returned Dataset's
    * action.
    */
  def streaming[K: Ordering: ClassTag, V: ClassTag, O: Encoder](
      mappers: Int, reducers: Int,
      mapper: String => IterableOnce[(K, V)])(
      streamReducer: Iterator[(K, V)] => Iterator[O])(
      lines: Dataset[String]): Dataset[O] = {
    implicit val oTag: ClassTag[O] = implicitly[Encoder[O]].clsTag
    lines.sparkSession.createDataset(
      round(lines.rdd, mappers, reducers, mapper)(streamReducer))
  }

  /** Boolean-AND job — the exact shape of the reference's
    * `PrefixFindRunner::run` (bool reducer outputs AND-folded,
    * reference src/runner.cpp:73-78).
    */
  def boolAnd[K: Ordering: ClassTag](mappers: Int, reducers: Int)(
      mapper: String => IterableOnce[(K, Int)])(
      reducer: Iterator[(K, Int)] => Boolean): MapReduceJob[K, Int, Boolean] =
    new MapReduceJob[K, Int, Boolean](mappers, reducers, mapper, reducer, _ && _)
}
