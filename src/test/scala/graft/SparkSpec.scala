package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared test fixture: one local [[GraftSession]] per JVM, at a fixed
  * small parallelism so plan and partition assertions do not depend on
  * the host's core count.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.app.name" -> getClass.getSimpleName,
    "spark.sql.warehouse.dir" -> "/tmp/graft-test-warehouse")

  /** Testdata root; override via GRAFT_TESTDATA on hosts with a
    * different data layout. */
  val testdataRoot: String =
    sys.env.getOrElse("GRAFT_TESTDATA", "/root/testdata")

  /** sf0.001 fixture dir (smallest, fastest; ~6k lineitem rows). */
  val sfDir = s"$testdataRoot/sf0.001"

  /** sf0.01 fixture dir (~60k lineitem rows; the oracle scale — used by
    * suites that need the real data distribution, not just tiny rows). */
  val sf01Dir = s"$testdataRoot/sf0.01"

  /** Run `f` on a fresh temp dir, deleted (recursively) afterwards. */
  def withTempDir[T](prefix: String)(f: String => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir.toString)
    finally {
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  override def afterAll(): Unit = {
    // Session is shared across suites in one JVM (getOrCreate); don't stop.
    super.afterAll()
  }
}
