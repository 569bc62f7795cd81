package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Exprs

/** TPC-DI incremental-update driver (SURVEY.md §2.10, [SPEC: incremental
  * updates]): Batches 2..N arrive as CDC record streams (`CDC_FLAG` ∈ I/U/D
  * plus a `CDC_DSN` sequence number) and fold into the current warehouse
  * snapshot one batch at a time — latest record per key wins, deletes
  * remove. Emits a DImessages-style per-batch report alongside the final
  * state, mirroring the spec's batch-validation bookkeeping.
  *
  * Scale posture: each fold is one keyed window + one keyed anti-join
  * (Scd2.applyCdc); the per-batch report is ONE aggregation (count and
  * delete-count in the same action), and between folds the snapshot is
  * pinned so lineage stays bounded at arbitrary batch counts — without it,
  * fold N's plan re-derives every previous fold. The pin follows
  * [[graft.queries.Exprs]]' policy: reliable storage when the session has a
  * checkpoint dir, executor-local otherwise.
  */
object IncrementalLoad {

  /** One batch's DImessages-style bookkeeping row. */
  final case class BatchReport(batch: String, n_records: Long,
                               n_upserts: Long, n_deletes: Long)

  /** The shared per-batch step of [[run]] and [[runAudited]] — ONE
    * definition of the envelope stats + CDC apply + lineage truncation, so
    * the audited and plain folds cannot drift. One action per batch: total
    * and delete counts in a single pass.
    *
    * `lazyPin=true` pins the folded state with [[graft.queries.Exprs.pinLazy]]
    * instead of the eager [[graft.queries.Exprs.pinShared]] — correct only
    * when the caller runs an action over the returned frame before the next
    * fold (runAudited's per-batch audit aggregation does exactly that),
    * which materializes the pin in the SAME job instead of paying a
    * separate eager-checkpoint job per batch. [[run]] keeps the eager pin:
    * without a per-batch action, a lazy mark would let fold N's plan nest
    * every previous fold — the recursion the checkpoint exists to cut. */
  private def foldOne(snap: DataFrame, name: String, cdc: DataFrame,
                      keyCols: Seq[String], seqCol: String, flagCol: String,
                      truncateLineage: Boolean,
                      lazyPin: Boolean = false): (DataFrame, BatchReport) = {
    val stats = cdc.agg(
      count(lit(1)).as("n"),
      coalesce(sum(when(col(flagCol) === "D", 1L).otherwise(0L)), lit(0L))
        .as("n_del")).head()
    val (n, nDel) = (stats.getLong(0), stats.getLong(1))
    val folded = Scd2.applyCdc(snap, cdc, keyCols, seqCol, flagCol)
    val next =
      if (!truncateLineage) folded
      else if (lazyPin) Exprs.pinLazy(folded)
      else Exprs.pinShared(folded)
    (next, BatchReport(name, n, n - nDel, nDel))
  }

  /** Fold CDC batches (in order) into the snapshot; returns the final state
    * and one report per batch. `truncateLineage=false` keeps the fold fully
    * lazy (useful when the caller persists/writes per fold itself). */
  def run(snapshot: DataFrame, batches: Seq[(String, DataFrame)],
          keyCols: Seq[String], seqCol: String = "cdc_dsn",
          flagCol: String = "cdc_flag",
          truncateLineage: Boolean = true): (DataFrame, Seq[BatchReport]) =
    batches.foldLeft((snapshot, Vector.empty[BatchReport])) {
      case ((snap, reports), (name, cdc)) =>
        val (next, report) =
          foldOne(snap, name, cdc, keyCols, seqCol, flagCol, truncateLineage)
        (next, reports :+ report)
    }

  /** [[BatchReport]] extended with post-fold STATE bookkeeping — the full
    * DImessages row: how many keys the warehouse holds after the batch
    * lands, plus a content checksum over a caller-named column, so a
    * replayed/re-ordered load is detectable from the report alone. */
  final case class AuditedReport(batch: String, n_records: Long,
                                 n_upserts: Long, n_deletes: Long,
                                 n_keys_after: Long, state_checksum: Long)

  /** [[run]] with per-batch state auditing: after each fold, ONE extra
    * aggregation over the just-checkpointed snapshot records the surviving
    * key count and `sum(checksumCol)` — O(state) per batch with no extra
    * lineage (the fold already truncates per batch; the audit reads the
    * checkpointed frame, so the count/checksum job re-derives nothing). */
  def runAudited(snapshot: DataFrame, batches: Seq[(String, DataFrame)],
                 keyCols: Seq[String], checksumCol: String,
                 seqCol: String = "cdc_dsn", flagCol: String = "cdc_flag")
      : (DataFrame, Seq[AuditedReport]) =
    batches.foldLeft((snapshot, Vector.empty[AuditedReport])) {
      case ((snap, reports), (name, cdc)) =>
        val (next, r) =
          foldOne(snap, name, cdc, keyCols, seqCol, flagCol,
            truncateLineage = true, lazyPin = true)
        // this audit action materializes the lazily-marked checkpoint, so
        // the per-batch state is pinned in the same job that audits it
        val st = next.agg(
          count(lit(1)).as("n_keys"),
          coalesce(sum(col(checksumCol)), lit(0L)).as("chk")).head()
        (next, reports :+ AuditedReport(r.batch, r.n_records, r.n_upserts,
          r.n_deletes, st.getLong(0), st.getLong(1)))
    }
}
