package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is -1 for a root span;
  * spans of one op share `op`. Times are `System.nanoTime` readings. */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span store, written out once at exit. When disabled, `span`
  * still runs its body and returns the elapsed time but records nothing. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0

  /** Run `body` as a span; returns its result, its id and its seconds. */
  def span[T](op: String, name: String, parent: Int = -1)(body: Int => T): (T, Double) = {
    val id = synchronized { nextId += 1; nextId }
    val t0 = System.nanoTime()
    val out = body(id)
    val t1 = System.nanoTime()
    record(Span(id, parent, op, name, t0, t1))
    (out, (t1 - t0) / 1e9)
  }

  /** Record an interval measured elsewhere (e.g. a streaming progress phase). */
  def record(s: Span): Unit = if (enabled) synchronized { spans += s }

  def newId(): Int = synchronized { nextId += 1; nextId }

  def all: Seq[Span] = synchronized { spans.toList }
}

/** Spark-side counters of one op, summed over its jobs' tasks. */
final class OpCounters {
  val jobs, constructJobs, checkpointJobs, stages, tasks = new AtomicLong
  val taskRunMs, taskCpuNs, shuffleWriteBytes, shuffleReadBytes = new AtomicLong
  val fetchWaitMs, spillBytes, gcMs, inputBytes = new AtomicLong

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble,
    "construct_jobs" -> constructJobs.get.toDouble,
    "checkpoint_jobs" -> checkpointJobs.get.toDouble,
    "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble,
    "task_run_s" -> taskRunMs.get / 1e3,
    "task_cpu_s" -> taskCpuNs.get / 1e9,
    "shuffle_write_bytes" -> shuffleWriteBytes.get.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.get.toDouble,
    "shuffle_fetch_wait_s" -> fetchWaitMs.get / 1e3,
    "spill_bytes" -> spillBytes.get.toDouble,
    "gc_s" -> gcMs.get / 1e3,
    "input_bytes" -> inputBytes.get.toDouble)
}

/** Attributes every job, stage and task to the op that started it. Batch
  * ops tag their thread with the `perfbench.op` / `perfbench.phase` local
  * properties; streaming jobs are keyed by the stream's round and Spark's
  * own micro-batch id property. */
final class LayerListener extends SparkListener {
  private val byOp = new ConcurrentHashMap[String, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val started = new AtomicLong
  private val ended = new AtomicLong

  def counters(op: String): OpCounters = byOp.computeIfAbsent(op, _ => new OpCounters)

  private def opOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(pp => Option(pp.getProperty(LayerListener.OpKey))
      .orElse(Option(pp.getProperty("streaming.sql.batchId")).map { b =>
        Option(pp.getProperty(LayerListener.RoundKey)).getOrElse("stream") + "-" + b }))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    opOf(e.properties).foreach { op =>
      val c = counters(op)
      c.jobs.incrementAndGet()
      if (e.properties.getProperty(LayerListener.PhaseKey) == "construct")
        c.constructJobs.incrementAndGet()
      if (e.stageInfos.exists(_.name.toLowerCase.contains("checkpoint")))
        c.checkpointJobs.incrementAndGet()
      e.stageIds.foreach(s => stageOp.putIfAbsent(s, op))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach(op => counters(op).stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (op <- Option(stageOp.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val c = counters(op)
      c.tasks.incrementAndGet()
      c.taskRunMs.addAndGet(m.executorRunTime)
      c.taskCpuNs.addAndGet(m.executorCpuTime)
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }

  /** Wait until every job the listener saw start has also ended: drain the
    * bus, then compare the two counts. False when that takes longer than
    * `timeoutMs`; the caller counts the op as failed. */
  def quiesce(sc: SparkContext, timeoutMs: Long): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def left = math.max(1L, (deadline - System.nanoTime()) / 1000000L)
    var ok = org.apache.spark.perfbench.BusDrain.drain(sc, left)
    while (ok && started.get != ended.get && System.nanoTime() < deadline) {
      // a job still running (its end not yet posted): poll, then drain again
      java.util.concurrent.locks.LockSupport.parkNanos(2000000L)
      ok = org.apache.spark.perfbench.BusDrain.drain(sc, left)
    }
    ok && started.get == ended.get
  }

  def ops: Map[String, OpCounters] = byOp.asScala.toMap
}

object LayerListener {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"
  /** Set on the thread that starts a stream; its micro-batch jobs inherit
    * it, so op ids stay unique across the streams of one run. */
  val RoundKey = "perfbench.round"
}
