package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared oracle-parity-safe aggregate expressions (SURVEY.md §5.3).
  *
  * Summing doubles is order-dependent, and Spark's partial-aggregation order
  * varies with partitioning while DuckDB's varies with its own vectorization —
  * so a `round(sum(double), 2)` can flip at a rounding boundary between
  * engines. Casting each element to DECIMAL(24,6) first makes the sum exact
  * and order-independent: the per-row value is computed in double (identical
  * IEEE ops on identical inputs in both engines), snapped to 6 decimal digits,
  * then summed exactly. The final cast back to double is deterministic.
  *
  * Also home of the one pin policy ([[pinShared]] and its variants): no
  * other module decides between a reliable and an executor-local
  * checkpoint.
  */
object Exprs {
  /** Order-independent money sum, exact to 6 decimal places. Scale 6 matters:
    * money expressions multiply up to three 2-decimal factors, so the true
    * value has up to 6 decimal digits — casting at a smaller scale would put
    * true values exactly on rounding ties, which the two engines break from
    * different double representations. At scale >= the true decimal width both
    * engines recover the exact value. */
  def moneySum(c: Column): Column =
    sum(c.cast("decimal(24,6)")).cast("double")

  /** Order-independent mean: exact decimal sum, double division, round(4). */
  def moneyAvg(c: Column): Column =
    round(sum(c.cast("decimal(24,6)")).cast("double") / count(lit(1)), 4)

  /** Materialize a NARROW frame consumed by multiple branches of one query
    * DAG (PLANS.md r9 adjudication: Spark's exchange reuse does not fire
    * across column-pruned consumer copies, so a shared subtree recomputes —
    * full source scans included — once per consumer). Pin only frames that
    * are aggregate-narrow relative to their source.
    *
    * THE pin policy for every pin, batch and stream alike: a RELIABLE
    * checkpoint when the session has a checkpoint dir (it survives executor
    * loss on a cluster; `spark.cleaner.referenceTracking.cleanCheckpoints`,
    * set by [[graft.GraftSession]], reclaims its files), an executor-local
    * one otherwise (no write amplification). Both modes give identical
    * results (LlmSpec; StreamingSpec for the corpus ingest). */
  def pinShared(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint() else df.localCheckpoint(true)

  /** [[pinShared]] fused with the caller's next action: executor-local mode
    * only MARKS the frame for a lazy checkpoint, which the caller's next
    * action materializes in its own job instead of a separate eager
    * checkpoint job. Correct only when that action computes every partition
    * (a row count, a full aggregation) and runs before any other use of the
    * frame. Under a checkpoint dir the pin stays eager: a reliable
    * checkpoint re-computes the RDD to write it, so there is nothing to
    * fuse. */
  def pinLazy(df: DataFrame): DataFrame =
    if (reliable(df)) df.checkpoint() else df.localCheckpoint(false)

  /** Declare-and-pin for a frame ALREADY exactly hash-partitioned on `key`
    * into `n` partitions (a `repartition(n, key)` followed only by
    * partitioning-preserving ops — same-key windows, filters, projections
    * keeping the key). The contract is the caller's to uphold; see
    * [[org.apache.spark.sql.GraftSqlBridge.withHashPartitioning]]. */
  def pinPrePartitioned(df: DataFrame, key: String, n: Int): DataFrame =
    org.apache.spark.sql.GraftSqlBridge.withHashPartitioning(pinShared(df), key, n)

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.getCheckpointDir.isDefined
}
