package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]] is the one place a session is built: the suites' shared
  * session carries its settings, and no other source file builds its own. */
class GraftSessionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("TestSpark.spark carries the shared session settings") {
    val conf = spark.sparkContext.getConf
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") === "true")
    assert(conf.get("spark.sql.extensions") === "graft.expr.GraftExtensions")
    val cos = spark.sql(
      "SELECT cosine_similarity(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)), " +
      "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))").head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
  }

  test("no source file other than GraftSession.scala builds a SparkSession") {
    // split so this file does not match its own needle
    val needle = "SparkSession" + ".builder"
    val sources = Files.walk(Paths.get("src")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    assert(sources.size > 50, s"source tree not found from ${Paths.get("").toAbsolutePath}")
    val builders = sources.filter(p => Files.readString(p).contains(needle))
      .map((p: Path) => p.getFileName.toString)
    assert(builders === Seq("GraftSession.scala"),
      s"sessions must be built through graft.GraftSession; found $needle in $builders")
  }
}
