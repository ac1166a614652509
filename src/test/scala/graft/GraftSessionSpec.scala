package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Every session comes from [[GraftSession]]: the shared test session
  * carries each factory setting, and no other source builds one. */
class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries every GraftSession setting") {
    assert(spark.sql("SELECT common_prefix_length('abc', 'abd')")
      .head().getInt(0) == 2)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000")
    assert(spark.sparkContext.uiWebUrl.isEmpty, "UI must be off")
  }

  test("GraftSession.scala is the only source that builds a session") {
    val needle = s"${classOf[SparkSession].getSimpleName}.builder"
    val sources = Seq("src/main", "src/test").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .toList
      finally walk.close()
    }
    assert(sources.exists(_.endsWith("GraftSession.scala")))
    val builders = sources.filter(Files.readString(_).contains(needle))
      .map(_.getFileName.toString)
    assert(builders == Seq("GraftSession.scala"))
  }
}
