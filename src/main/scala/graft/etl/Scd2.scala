package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic SCD2 (slowly-changing dimension, Type 2) machinery — the reusable
  * semantics behind TPC-DI's DimCustomer/DimAccount/DimCompany/DimSecurity
  * history builds and every fact table's point-in-time surrogate-key lookup
  * (SURVEY.md §2.3 `q_join_range_scd2`, §2.5 `q_win_scd2_enddate`, §2.10
  * `q_cdc_apply`).
  *
  * Conventions: `eff` (effective-from) inclusive, `end` exclusive, the
  * current version has `end IS NULL`. Invariants (property-tested in
  * Scd2Spec): per key the intervals tile time with no gaps or overlaps,
  * and exactly one version per key is open.
  *
  * Scale notes: every operation here is a single hash-partition-by-key +
  * sort-within-partition (window) or an equi-join keyed on the natural key
  * with the interval predicate as residual — sort-merge-joinable, never a
  * nested loop.
  */
object Scd2 {

  /** Build versioned history from a change log: one row per (key, effective
    * date, attributes) becomes a version end-dated by the next change. */
  def fromChangeLog(log: DataFrame, keyCols: Seq[String], effCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(effCol))
    log
      .withColumn("end", lead(col(effCol), 1).over(w))
      .withColumn("is_current", col("end").isNull)
  }

  /** Point-in-time resolve: each fact row joins the dimension version current
    * at `factTime`. Equi component on the key keeps the join sort-merge; the
    * interval test rides along as a residual predicate. */
  def resolve(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
              factTime: String, effCol: String = "eff", endCol: String = "end"): DataFrame =
    fact.join(dim,
      fact(factKey) === dim(dimKey) &&
        fact(factTime) >= dim(effCol) &&
        (dim(endCol).isNull || fact(factTime) < dim(endCol)))

  /** Apply a CDC micro-batch (I/U/D records with a sequence number) to a
    * current-state snapshot: the latest CDC record per key wins; `D` deletes;
    * snapshot rows for untouched keys pass through. Both inputs and the
    * output share the snapshot's schema plus the CDC envelope columns on the
    * batch side. One window + one anti-join, both keyed — no full rewrite of
    * unaffected partitions at scale if the snapshot is bucketed by key. */
  def applyCdc(snapshot: DataFrame, cdc: DataFrame, keyCols: Seq[String],
               seqCol: String, flagCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)
    val latest = cdc
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val survivors = latest.filter(col(flagCol) =!= "D")
      .drop(seqCol, flagCol)
    val untouched = snapshot.join(latest.select(keyCols.map(col): _*),
      keyCols, "left_anti")
    untouched.unionByName(survivors)
  }

  /** Apply a CDC micro-batch to a VERSIONED history (the TPC-DI Type-2
    * incremental semantics for DimCustomer/DimAccount: an update does not
    * replace — it end-dates the open version and appends a new one;
    * a delete end-dates the open version without a successor; history rows
    * are never rewritten beyond closing their `end`).
    *
    * `history` carries `keyCols`, attributes, `effCol`, `end`, `is_current`
    * ([[fromChangeLog]]'s shape); `cdc` carries `keyCols`, attributes,
    * `effCol` (the change's effective time), plus the `seqCol`/`flagCol`
    * envelope. The latest CDC record per key in the batch wins.
    *
    * Shape at scale: one keyed window over the batch and ONE keyed left
    * equi-join over the history — untouched rows (no batch match) pass
    * through it unchanged and touched open versions close at the incoming
    * effective time, in the same pass. (An anti-join + inner-join pair
    * would express the same split but scan — and re-window — the history
    * twice; the merged join halves the dominant cost.) */
  def applyCdcHistorized(history: DataFrame, cdc: DataFrame, keyCols: Seq[String],
                         seqCol: String, flagCol: String,
                         effCol: String = "eff"): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)
    val latest = cdc
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val merged = history.join(
      latest.select((keyCols.map(col) :+ col(effCol).as("__new_eff")): _*),
      keyCols, "left")
      .withColumn("end",
        when(col("is_current") && col("__new_eff").isNotNull, col("__new_eff"))
          .otherwise(col("end")))
      .withColumn("is_current", col("is_current") && col("__new_eff").isNull)
      .drop("__new_eff")
    // inserts/updates open a new current version; deletes add no successor
    val newVersions = latest.filter(col(flagCol) =!= "D")
      .drop(seqCol, flagCol)
      .withColumn("end", lit(null).cast(history.schema("end").dataType))
      .withColumn("is_current", lit(true))
    merged.unionByName(newVersions)
  }
}
