package graft.queries

import org.apache.spark.sql.Column
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
    * are aggregate-narrow relative to their source; policy mirrors the CC
    * operators: reliable checkpoint when the session has a checkpoint dir,
    * executor-local otherwise.
    *
    * Sessions that DO configure a checkpoint dir should also set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (the harness
    * builders do): reliable checkpoint files are never deleted by default,
    * and with ~15 queries pinning per sweep a long-lived session
    * accumulates them without bound. */
  def pinShared(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(true)

  /** Declare-and-pin for a frame ALREADY exactly hash-partitioned on `key`
    * into `n` partitions (a `repartition(n, key)` followed only by
    * partitioning-preserving ops — same-key windows, filters, projections
    * keeping the key). The contract is the caller's to uphold; see
    * [[org.apache.spark.sql.GraftSqlBridge.withHashPartitioning]]. */
  def pinPrePartitioned(df: org.apache.spark.sql.DataFrame, key: String, n: Int)
      : org.apache.spark.sql.DataFrame = {
    val pinned =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint(true)
    org.apache.spark.sql.GraftSqlBridge.withHashPartitioning(pinned, key, n)
  }
}
