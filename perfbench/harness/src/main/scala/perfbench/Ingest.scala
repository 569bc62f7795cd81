package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** One streamed document, the shape `Streams.corpusIngest` reads. */
final case class FeedDoc(doc_id: Long, text: String, source: String,
                         embedding: Array[Float])

/** One micro-batch as the benchmark saw it. */
final case class BatchRun(op: String, batchId: Long, docs: Int, wallS: Double,
                          phases: Map[String, Double], maint: Seq[String],
                          bytesWritten: Long, error: Option[String])

/** The streaming corpus ingest: one producer feeding `Streams.corpusIngest`
  * through a MemoryStream, closed loop (the next batch is added only after
  * the previous one committed), with holdout exclusion, the map-side quality
  * and repetition gates, MinHash near-dup, IVF lists with a retrain cadence,
  * compaction, vacuum and the audit log on. The stream writes under `root`,
  * which starts empty. */
final class Ingest(spark: SparkSession, feed: Seq[Seq[FeedDoc]], root: File,
                   tracer: Tracer, listener: Option[LayerListener]) {
  import Ingest._

  private def dir(n: String) = new File(root, n).getAbsolutePath
  private val mem = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    MemoryStream[FeedDoc]
  }
  private val query = {
    spark.sparkContext.setLocalProperty(LayerListener.RoundKey, "batch")
    try graft.stream.Streams.corpusIngest(mem.toDF(), dir("dedup"), dir("lsh"),
        dir("corpus"), vacuumEvery = MaintainEvery, compactEvery = MaintainEvery,
        ivfDir = Some(dir("ivf")), ivfNlist = 4, ivfRetrainEvery = MaintainEvery,
        auditDir = Some(dir("audit")), holdoutSources = Seq(Holdout),
        qualityGate = true, repetitionGate = true)
      .option("checkpointLocation", dir("checkpoint"))
      .start()
    finally spark.sparkContext.setLocalProperty(LayerListener.RoundKey, null)
  }
  private val seen = scala.collection.mutable.Map.empty[String, Long]
  private var next = 0

  /** Add the next feed batch and wait until it committed. The batch's
    * wall covers exactly that; the checks and file accounting follow it. */
  def step(): BatchRun = {
    val i = next
    next += 1
    val op = s"batch-$i"
    val (err, wall) = tracer.span(op, "op") { _ =>
      try { mem.addData(feed(i)); query.processAllAvailable(); None }
      catch { case e: Throwable if scala.util.control.NonFatal(e) =>
        Some(e.getClass.getSimpleName + ": " + e.getMessage) }
    }
    val quiet = listener.forall(_.quiesce(spark.sparkContext, 60000L))
    val progress = executedProgress(i.toLong, 60000L)
    val phases = progress.map(p => p.durationMs.asScala
        .map { case (k, v) => k -> v.longValue / 1e3 }.toMap)
      .getOrElse(Map.empty[String, Double])
    recordPhases(op, phases)
    val written = newBytes()
    // a retrain clears the drift flag the appends set; compaction and
    // vacuum run on every cadence batch
    val retrained = i > 0 && i % MaintainEvery == 0 &&
      !new File(dir("ivf"), "_GRAFT_RETRAIN_PENDING").exists()
    val maint = (if (i > 0 && i % MaintainEvery == 0) Seq("compact", "vacuum") else Nil) ++
      (if (retrained) Seq("retrain") else Nil)
    val error = err.orElse(if (quiet) None else Some("listener did not quiesce"))
      .orElse(if (progress.isEmpty) Some(s"no progress for batch $i") else None)
    BatchRun(op, i.toLong, feed(i).size, wall, phases, maint, written, error)
  }

  def remaining: Int = feed.size - next

  /** The progress report of micro-batch `id` as executed. Idle triggers
    * before it report the same id with no `addBatch` phase, and the report
    * may be posted just after `processAllAvailable` returns: poll until it
    * is there, up to `timeoutMs`. */
  private def executedProgress(id: Long, timeoutMs: Long) = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def find = query.recentProgress.findLast(p => p.batchId == id && p.durationMs.containsKey("addBatch"))
    var p = find
    while (p.isEmpty && System.nanoTime() < deadline) {
      java.util.concurrent.locks.LockSupport.parkNanos(2000000L)
      p = find
    }
    p
  }

  /** Stop the stream and check what it published. */
  def finish(): (IngestCheck, Map[String, Double]) = {
    query.stop()
    query.awaitTermination(60000L)
    (check(next), storage())
  }

  /** Lay the micro-batch's progress phases end to end, in the order
    * MicroBatchExecution runs them, as children of the batch span. */
  private def recordPhases(op: String, phases: Map[String, Double]): Unit =
    if (tracer.enabled) {
      val parent = tracer.all.reverseIterator.find(s => s.op == op && s.name == "op")
      parent.foreach { p =>
        var t = p.startNs
        PhaseOrder.filter(phases.contains).foreach { k =>
          val end = t + (phases(k) * 1e9).toLong
          tracer.record(Span(tracer.newId(), p.id, op, s"stream.$k", t, end))
          t = end
        }
      }
    }

  /** Bytes of files that appeared since the last call (files that live to
    * the end of a batch; the stream's own temp files are not seen). */
  private def newBytes(): Long = {
    var n = 0L
    files(root).foreach { f =>
      val p = f.getPath
      if (!seen.contains(p)) { seen(p) = f.length; n += f.length }
    }
    n
  }

  /** Checks on the published state after the last batch: every fed doc got
    * exactly one decision in the audit log, the admitted set is the
    * published set, no holdout doc is published, and holdout exclusions
    * equal the holdout docs fed. */
  private def check(nBatches: Int): IngestCheck = {
    val fed = feed.take(nBatches).flatten
    val fedIds = fed.map(_.doc_id).toSet
    val corpusDir = new File(root, "corpus").getAbsolutePath
    val published = graft.etl.BucketedTable.readCurrent(spark, corpusDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val log = spark.read.parquet(new File(root, "audit").getAbsolutePath)
      .select(col("doc_id"), col("decision")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val decisions = log.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val admitted = log.filter(_._2 == "admitted").map(_._1).toSet
    val holdoutFed = fed.count(_.source == Holdout).toLong
    val problems = Seq(
      (log.size != fed.size || log.map(_._1).toSet != fedIds) ->
        s"audit log has ${log.size} decisions for ${fed.size} fed docs",
      (admitted != published) -> s"${admitted.size} admitted vs ${published.size} published",
      !published.subsetOf(fedIds) -> "published doc ids that were never fed",
      fed.exists(d => d.source == Holdout && published(d.doc_id)) -> "holdout doc published",
      (decisions.getOrElse("holdout_excluded", 0L) != holdoutFed) ->
        s"holdout_excluded ${decisions.getOrElse("holdout_excluded", 0L)} vs $holdoutFed fed"
    ).collect { case (true, msg) => msg }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    published.toSeq.sorted.foreach(id => md.update(s"$id\n".getBytes("UTF-8")))
    IngestCheck(published.size.toLong, decisions,
      md.digest().map("%02x".format(_)).mkString, problems, log.sortBy(_._1))
  }

  /** Write and space cost of the ingest's on-disk state, over every batch
    * streamed (the checkpoint's own files excluded). */
  private def storage(): Map[String, Double] = {
    val live = files(root).filterNot(_.getPath.contains("checkpoint"))
    val fedBytes = feed.take(next).flatten.map(d => d.text.getBytes("UTF-8").length + 4L * d.embedding.length)
    Map(
      "bytes_written" -> seen.filterNot(_._1.contains("checkpoint")).values.sum.toDouble,
      "live_bytes" -> live.map(_.length).sum.toDouble,
      "files_live" -> live.size.toDouble,
      "docs" -> fedBytes.size.toDouble,
      "fed_doc_bytes_mean" -> fedBytes.sum.toDouble / math.max(1, fedBytes.size))
  }
}

/** The stream's published state after its last batch; `audit` is the
  * decision log as (doc_id, decision), for the checks in `run.py`. */
final case class IngestCheck(published: Long, decisions: Map[String, Long],
                             publishedDigest: String, problems: Seq[String],
                             audit: Seq[(Long, String)])

object Ingest {
  val Holdout = "src0"
  val BatchDocs = 25
  /** Every third batch compacts, vacuums and (when appends landed since
    * the last one) retrains the IVF lists; batch 0 seeds and never does. */
  val MaintainEvery = 3
  val PhaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  def files(root: File): Seq[File] = {
    val out = ArrayBuffer.empty[File]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk)) else out += f
    walk(root)
    out.toSeq
  }

  /** The feed: documents in a seed-permuted order, cut into batches so that
    * every batch carries holdout-source documents, each with a seeded unit
    * 16-d embedding. */
  def feed(spark: SparkSession, dataDir: String, seed: Long): Seq[Seq[FeedDoc]] = {
    val docs = graft.Tables.load(spark, dataDir, "documents")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sortBy(_._1)
    val rnd = new scala.util.Random(seed)
    val (hold, rest) = rnd.shuffle(docs).partition(_._3 == Holdout)
    val nBatches = docs.size / BatchDocs
    val holdOf = hold.zipWithIndex.groupBy(_._2 % nBatches).map { case (b, hs) => b -> hs.map(_._1) }
    var restIt = rest
    (0 until nBatches).map { b =>
      val h = holdOf.getOrElse(b, Nil)
      val (take, left) = restIt.splitAt(BatchDocs - h.size)
      restIt = left
      rnd.shuffle(h ++ take).map { case (id, text, src) =>
        val r = new scala.util.Random(seed * 1000003L + id)
        val v = Array.fill(16)(r.nextGaussian().toFloat)
        val n = math.sqrt(v.map(x => x * x).sum).toFloat
        FeedDoc(id, text, src, v.map(_ / n))
      }
    }
  }
}
