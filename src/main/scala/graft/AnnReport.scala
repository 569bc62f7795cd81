package graft

import java.nio.file.{Files, Paths}

/** Dev/report main: score all ten ANN paths on the shared planted fixture
  * ([[graft.etl.AnnQuality]]), plus the distribution-level recall table
  * (r17, judge #4) over seeded-random REAL-corpus probes at sf0.001 and
  * sf0.1, and write the round-snapshot tables (ANN_REPORT.md by default;
  * pass an output path as arg 1). */
object AnnReport {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("ANN_REPORT.md")
    val spark = GraftSession.start()
    val fixture =
      graft.etl.AnnQuality.reportMarkdown(graft.etl.AnnQuality.score(spark))
    val dist = Seq("0.001", "0.1").filter(sf =>
        Files.isDirectory(Paths.get(s"/root/testdata/sf$sf"))).map { sf =>
      val e = Tables.embeddings(spark, s"/root/testdata/sf$sf")
      graft.etl.AnnQuality.distReportMarkdown(
        graft.etl.AnnQuality.distributionScore(spark, e),
        s"sf$sf embeddings (${e.count()} vectors)")
    }.mkString
    val md = fixture + dist
    Files.writeString(Paths.get(out), md)
    println(md)
    spark.stop()
  }
}
