package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (never stopped — the forked test
  * JVM's exit cleans it up; stopping in an afterAll would kill it for the
  * suites that follow). Fixed at `local[4]` whatever `SPARK_GRAFT_CPUS`
  * says, so plan shapes and partition counts are the same on every host. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.start(
    GraftSession.builder(cpus = 4)
      .appName("graft-test")
      // bucketed-table tests (WarehouseSpec) use saveAsTable; keep the
      // managed warehouse out of the repo tree
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString),
    logLevel = "WARN")

  val sfDir = "/root/testdata/sf0.001"
}
