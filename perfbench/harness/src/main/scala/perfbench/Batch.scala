package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One query run inside a pass: the three timed layers, the output, and
  * whether the query's own checks held. */
final case class Part(query: String, op: String, constructS: Double,
                      planS: Double, trackerPlanS: Double, execS: Double,
                      rows: Seq[Row], schema: StructType, error: Option[String]) {
  def wallS: Double = constructS + planS + execS
}

/** The batch workloads: closed loop, one client, passes back to back. */
final class Batch(spark: SparkSession, dataDir: String, queries: Seq[String],
                  tracer: Tracer, listener: Option[LayerListener]) {
  private val sc = spark.sparkContext

  /** Run one query as three spans (construct, plan, execute) under `parent`;
    * checks run after the last span ends. */
  def runQuery(q: String, op: String, parent: Int): Part = {
    val qop = s"$op/$q"
    sc.setLocalProperty(LayerListener.OpKey, qop)
    try {
      sc.setLocalProperty(LayerListener.PhaseKey, "construct")
      val (df, cS) = tracer.span(qop, "construct", parent)(_ => graft.SparkEntry.queries(q)(spark, dataDir))
      sc.setLocalProperty(LayerListener.PhaseKey, "plan")
      val (_, pS) = tracer.span(qop, "plan", parent)(_ => df.queryExecution.executedPlan)
      sc.setLocalProperty(LayerListener.PhaseKey, "execute")
      val (rows, eS) = tracer.span(qop, "execute", parent)(_ => df.collect().toSeq)
      sc.setLocalProperty(LayerListener.OpKey, null)
      sc.setLocalProperty(LayerListener.PhaseKey, null)
      val tracked = df.queryExecution.tracker.phases.values
        .map(p => p.endTimeMs - p.startTimeMs).sum / 1e3
      Part(q, qop, cS, pS, tracked, eS, rows, df.schema, Batch.audit(q, rows))
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        sc.setLocalProperty(LayerListener.OpKey, null)
        sc.setLocalProperty(LayerListener.PhaseKey, null)
        Part(q, qop, 0, 0, 0, 0, Nil, new StructType,
          Some(e.getClass.getSimpleName + ": " + e.getMessage))
    }
  }

  /** One pass over every query; the op's wall is the sum of the query walls,
    * so checking and writing outputs stay out of it. */
  def pass(op: String): (Seq[Part], Double) = {
    val parts = ArrayBuffer.empty[Part]
    tracer.span(op, "op") { id => queries.foreach(q => parts += runQuery(q, op, id)) }
    val quiet = listener.forall(_.quiesce(sc, 60000L))
    val out = if (quiet) parts.toSeq
      else parts.toSeq.map(p => p.copy(error = p.error.orElse(Some("listener did not quiesce"))))
    (out, out.map(_.wallS).sum)
  }

  /** Write the outputs of the queries `run.py` checks by digest to
    * `<dir>/<query>` as parquet, one file each. */
  def writeOutputs(parts: Seq[Part], checked: Set[String], dir: File): Unit =
    for (p <- parts if p.error.isEmpty && checked(p.query))
      spark.createDataFrame(p.rows.asJava, p.schema).coalesce(1).write
        .parquet(new File(dir, p.query).getAbsolutePath)
}

object Batch {
  val tpcdiEtl = Seq("q_warehouse_etl", "q_cdc_apply", "q_cdc_scd2",
    "q_join_range_scd2", "q_scan_csv", "q_scan_fixedwidth",
    "q_audit_referential", "q_batch_validation")
  val llmCurate = Seq("q_corpus_curate", "q_curation_audit", "q_dedup_keep",
    "q_semdedup", "q_knn_batch_ivfpq", "q_bm25", "q_substring_excise",
    "q_graph_triangles", "q_pagerank")

  /** The query order of a run: the workload's list rotated by the seed. */
  def rotated(qs: Seq[String], seed: Long): Seq[String] = {
    val k = Math.floorMod(seed, qs.size.toLong).toInt
    qs.drop(k) ++ qs.take(k)
  }

  /** Checks a query makes of its own output (the queries with no oracle):
    * the round-trip scans' lossless flags, and each IVF-PQ probe finding
    * itself first with cosine 1. */
  def audit(q: String, rows: Seq[Row]): Option[String] = q match {
    case "q_scan_csv" | "q_scan_fixedwidth" =>
      if (rows.nonEmpty && rows.forall(_.getAs[Boolean]("lossless"))) None
      else Some(s"$q: lossless flag not set on every row")
    case "q_knn_batch_ivfpq" =>
      val byProbe = rows.groupBy(_.getAs[Long]("probe_id"))
      val bad = byProbe.filterNot { case (p, rs) =>
        val top = rs.maxBy(_.getAs[Double]("cos_sim"))
        top.getAs[Long]("vec_id") == p && top.getAs[Double]("cos_sim") >= 0.9999
      }
      if (byProbe.size == 5 && bad.isEmpty) None
      else Some(s"$q: ${bad.size} of ${byProbe.size} probes did not rank themselves first")
    case _ => if (rows.isEmpty) Some(s"$q: empty result") else None
  }
}
