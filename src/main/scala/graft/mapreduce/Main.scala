package graft.mapreduce

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** CLI entry — flag surface parity with the reference binary (O10,
  * reference src/main.cpp:11-57; README.md:40-48):
  *
  * {{{
  * runMain graft.mapreduce.Main -i <file> [-m mappers] [-r reducers]
  *   [-d true|false] [-o outDir] [--max-len N]
  * }}}
  *
  * Defaults M=3, R=2 match reference src/main.cpp:49. Runs the iterative
  * min-unique-prefix driver (reference src/main.cpp:61-97): one MapReduce
  * job per candidate length L into `outDir/iter<L>/` (mapper runs under
  * `-d`, reducer booleans as 1/0, result.txt), stopping at the first
  * success. Like the reference's bounded search (quirk Q4: src/main.cpp:61
  * caps at L=3 and reports 4 unverified), a failed search reports
  * maxLen + 1.
  */
object Main {

  def main(args: Array[String]): Unit = {
    var input: Option[String] = None
    var mappers = 3
    var reducers = 2
    var debug = false
    var outDir = "out"
    var maxLen = 3
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-i" | "--input"    => input = Some(args(i + 1)); i += 2
        case "-m" | "--mappers"  => mappers = args(i + 1).toInt; i += 2
        case "-r" | "--reducers" => reducers = args(i + 1).toInt; i += 2
        case "-d" | "--debug"    => debug = args(i + 1).toBoolean; i += 2
        case "-o" | "--output"   => outDir = args(i + 1); i += 2
        case "--max-len"         => maxLen = args(i + 1).toInt; i += 2
        case "-h" | "--help"     => println(usage); return
        case other =>
          System.err.println(s"unknown argument: $other\n$usage")
          sys.exit(2)
      }
      ()
    }
    val in = input.getOrElse {
      // reference: missing input -> usage + exit 2 (src/main.cpp:42-46)
      System.err.println(s"missing required --input\n$usage")
      sys.exit(2)
    }

    val spark = GraftSession(
      "spark.master" -> sys.env.getOrElse("SPARK_MASTER", "local[*]"),
      "spark.app.name" -> "mapreduce")
    if (debug) spark.sparkContext.setLogLevel("INFO")

    val result = findIteratively(spark, in, outDir, mappers, reducers,
      maxLen, debug)
    println(s"Result = $result")
    spark.stop()
  }

  /** The reference's driver loop (src/main.cpp:61-97): one
    * [[MinUniquePrefix.uniquePrefixJob]] round per candidate L through
    * [[MapReduceJob.runWithSinks]] into `outDir/iter<L>/`; returns the found
    * L, or maxLen + 1 when no candidate length succeeded (Q4 contract). */
  def findIteratively(spark: SparkSession, input: String, outDir: String,
      mappers: Int, reducers: Int, maxLen: Int, debug: Boolean): Int =
    (1 to maxLen).find { l =>
      MinUniquePrefix.uniquePrefixJob(mappers, reducers, l)
        .runWithSinks(spark, input, s"$outDir/iter$l", debug)(
          b => if (b) "1" else "0")
    }.getOrElse(maxLen + 1)

  private val usage: String =
    """usage: graft.mapreduce.Main -i <input file> [options]
      |  -i, --input     newline-delimited input file (required)
      |  -m, --mappers   map parallelism (default 3)
      |  -r, --reducers  reduce parallelism (default 2)
      |  -d, --debug     true/false: verbose logs + mapper run files
      |  -o, --output    output directory (default out)
      |  --max-len       search bound on prefix length (default 3)""".stripMargin
}
