package graft
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev utility (r18 optimization round): LOAD-INDEPENDENT per-query work
  * counters — jobs, stages, tasks, shuffle bytes written, records read —
  * via a SparkListener around one warmed noop evaluation. Wall-clock on
  * this host swings 2-4× with ambient load; these counters are exact and
  * reproducible, so an optimization that removes eager jobs / shuffles
  * shows up as a hard before/after delta even on a loaded machine.
  *
  * Usage: `sbt "runMain graft.JobStats <sfDir> <query> [<query> ...]"`.
  */
object JobStats {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobStats <sfDir> <query> [<query> ...]")
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = GraftSession.start()
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shuffleWrite = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        shuffleWrite.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = ()
    }
    def evalOnce(n: String): Unit =
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
    names.foreach(evalOnce) // warmup (JIT + any persisted-index builds)
    spark.sparkContext.addSparkListener(listener)
    names.foreach { n =>
      jobs.set(0); stages.set(0); tasks.set(0); shuffleWrite.set(0)
      evalOnce(n)
      // the listener bus is async: read only after every event the
      // evaluation posted has been delivered
      require(org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark.sparkContext, 60000L),
        s"listener bus did not drain within 60 s after $n")
      println(f"[jobstats] $n%-24s jobs=${jobs.get}%3d stages=${stages.get}%3d " +
        f"tasks=${tasks.get}%5d shuffle_write=${shuffleWrite.get / 1024}%8d KiB")
    }
    spark.stop()
  }
}
