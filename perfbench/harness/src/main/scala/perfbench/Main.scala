package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload and writes what it measured
  * (ops, layer counters, spans, checks) as one JSON file for `run.py`.
  *
  *   perfbench.Main --workload tpcdi_etl --data <dir> --work <dir> --seed 1
  *                  --seconds 1 --min-ops 2 --trace 0 --out result.json
  */
object Main {
  final case class Args(workload: String, data: String, work: File, seed: Long,
                        seconds: Double, minOps: Int, trace: Boolean, out: String) {
    /** The measured loop runs ops until `seconds` passed and at least
      * `minOps` ran: a fixed op count whenever ops outlast `seconds`. */
    def more(done: Int, t0: Long): Boolean =
      done < minOps || (System.nanoTime() - t0) / 1e9 < seconds
  }

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), new File(m("work")), m("seed").toLong,
      m("seconds").toDouble, m("min-ops").toInt, m("trace") == "1", m("out"))
  }

  def session(work: File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Point `java.io.tmpdir` (where graft keeps its extract, index and scan
    * caches) at a fresh empty directory. */
  def freshCacheRoot(dir: File): Unit = {
    dir.mkdirs()
    require(Option(dir.list).forall(_.isEmpty), s"cache root $dir is not empty")
    System.setProperty("java.io.tmpdir", dir.getAbsolutePath)
  }

  def peakRssMb: Double =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(0.0)).getOrElse(0.0)

  private lazy val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double = (System.currentTimeMillis() - jvmStart) / 1e3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.work.mkdirs()
    freshCacheRoot(new File(a.work, "cache"))
    val spark = session(a.work)
    val sessionS = sinceJvmStart()
    val listener = if (a.trace) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(a.trace)
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "seed" -> a.seed, "workload" -> a.workload, "trace" -> a.trace)
    val body: Map[String, Any] = try {
      a.workload match {
        case "tpcdi_etl" => runBatch(spark, a, Batch.tpcdiEtl, tracer, listener)
        case "llm_curate" => runBatch(spark, a, Batch.llmCurate, tracer, listener)
        case "corpus_ingest" => runIngest(spark, a, tracer, listener)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      listener.foreach(spark.sparkContext.removeSparkListener)
    }
    val counters = listener.map(_.ops.map { case (k, c) => k -> c.toMap }).getOrElse(Map.empty)
    val spans = tracer.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
      "name" -> s.name, "start_s" -> (s.startNs / 1e9), "end_s" -> (s.endNs / 1e9)))
    val out = body ++ Map("env" -> env, "session_s" -> sessionS,
      "peak_rss_mb" -> peakRssMb, "counters" -> counters, "spans" -> spans)
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(a.out), out)
    spark.stop()
  }

  private def partJson(p: Part): Map[String, Any] = Map(
    "query" -> p.query, "op" -> p.op, "construct_s" -> p.constructS,
    "plan_s" -> p.planS, "tracker_plan_s" -> p.trackerPlanS, "exec_s" -> p.execS,
    "wall_s" -> p.wallS, "rows_out" -> p.rows.size, "error" -> p.error)

  def runBatch(spark: SparkSession, a: Args, qs: Seq[String], tracer: Tracer,
               listener: Option[LayerListener]): Map[String, Any] = {
    val batch = new Batch(spark, a.data, Batch.rotated(qs, a.seed), tracer, listener)
    // the queries with an oracle: run.py checks their outputs by digest
    val oracle = qs.flatMap(q => graft.SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    // set-up ends with a cold pass: every cache built into the empty root
    val (coldParts, coldS) = batch.pass("setup")
    val ops = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val setupS = sinceJvmStart()
    val t0 = System.nanoTime()
    var i = 0
    while (a.more(i, t0)) {
      val (parts, wall) = batch.pass(s"p$i")
      batch.writeOutputs(parts, oracle.keySet, new File(a.work, s"out/p$i"))
      ops += Map("op" -> s"p$i", "wall_s" -> wall, "parts" -> parts.map(partJson),
        "error" -> parts.flatMap(_.error).headOption)
      i += 1
    }
    Map("setup_s" -> setupS, "cold_pass_s" -> coldS, "cold_parts" -> coldParts.map(partJson),
      "ops" -> ops.toSeq, "oracle_sql" -> oracle)
  }

  def runIngest(spark: SparkSession, a: Args, tracer: Tracer,
                listener: Option[LayerListener]): Map[String, Any] = {
    val t = System.nanoTime()
    val feed = Ingest.feed(spark, a.data, a.seed)
    val feedS = (System.nanoTime() - t) / 1e9
    val ingest = new Ingest(spark, feed, new File(a.work, "ingest"), tracer, listener)
    def batchJson(b: BatchRun): Map[String, Any] = Map("op" -> b.op,
      "batch_id" -> b.batchId, "docs" -> b.docs, "wall_s" -> b.wallS,
      "phases" -> b.phases, "maint" -> b.maint, "bytes_written" -> b.bytesWritten,
      "error" -> b.error)
    // set-up: the first batch seeds the stream's indexes and models, cold
    val setup = Seq(ingest.step())
    val measured = scala.collection.mutable.ArrayBuffer.empty[BatchRun]
    val setupS = sinceJvmStart()
    val t0 = System.nanoTime()
    while (ingest.remaining > 0 && a.more(measured.size, t0))
      measured += ingest.step()
    val (check, storage) = ingest.finish()
    Map("setup_s" -> setupS, "cold_pass_s" -> setup.map(_.wallS).sum, "feed_s" -> feedS,
      "setup_batches" -> setup.map(batchJson),
      "ingest" -> Map("batches" -> measured.map(batchJson).toSeq,
        "published" -> check.published, "decisions" -> check.decisions,
        "published_digest" -> check.publishedDigest, "problems" -> check.problems,
        "audit" -> check.audit, "storage" -> storage),
      "fed" -> feed.take(setup.size + measured.size).map(_.map(_.doc_id)),
      "feed_batches" -> feed.size, "feed_docs" -> feed.map(_.size).sum,
      "cadence" -> Map("maintain_every" -> Ingest.MaintainEvery,
        "batch_docs" -> Ingest.BatchDocs, "holdout" -> Ingest.Holdout),
      // the batch funnel's per-doc oracle names each doc's map-side gate
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter(_._1 == "q_curation_audit"))
  }
}
