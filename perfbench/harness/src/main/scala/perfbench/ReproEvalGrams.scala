package perfbench

import java.io.File

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Reproduction of a known `Streams.corpusIngest` defect the benchmark's
  * ingest workload does not reach: when every holdout document arrives in
  * the first batch and `compactEvery = 2`, the `_eval_grams` table folds
  * down to its `batch_id=-1` base; on the next compaction cycle partition
  * inference types `batch_id` as an integer and the batch-key `isin` throws
  * `CAST_INVALID_INPUT`, stopping the stream.
  *
  *   java <jvm options> -cp "$(tail -1 .bench_build/classpath.txt)" \
  *     perfbench.ReproEvalGrams <data dir> <empty work dir>
  *
  * Prints the batch at which the stream died, or that it survived; exits 1
  * while the defect is present.
  */
object ReproEvalGrams {
  def main(args: Array[String]): Unit = {
    val Array(data, work) = args
    val root = new File(work)
    root.mkdirs()
    System.setProperty("java.io.tmpdir", new File(root, "tmp").getAbsolutePath)
    val spark = Main.session(root)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val docs = Ingest.feed(spark, data, 1L).flatten
    val (hold, rest) = docs.partition(_.source == Ingest.Holdout)
    val batches = hold +: rest.grouped(Ingest.BatchDocs).toSeq
    def dir(n: String) = new File(root, n).getAbsolutePath
    val mem = MemoryStream[FeedDoc]
    val q = graft.stream.Streams.corpusIngest(mem.toDF(), dir("dedup"), dir("lsh"),
        dir("corpus"), compactEvery = 2, holdoutSources = Seq(Ingest.Holdout),
        decontaminate = true)
      .option("checkpointLocation", dir("checkpoint")).start()
    val died = batches.take(8).zipWithIndex.collectFirst(Function.unlift { case (b, i) =>
      scala.util.Try { mem.addData(b); q.processAllAvailable() }.failed.toOption
        .map(e => (i, e))
    })
    scala.util.Try(q.stop())
    spark.stop()
    died match {
      case Some((i, e)) =>
        println(s"stream died at batch $i: ${e.getMessage.linesIterator.take(3).mkString(" ")}")
        sys.exit(1)
      case None => println("stream survived 8 batches: the defect is not present")
    }
  }
}
