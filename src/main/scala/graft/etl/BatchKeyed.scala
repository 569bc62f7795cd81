package graft.etl

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}

/** One batch-keyed table: its root, its declared schema (`batch_id
  * STRING` among the columns), the partition `levels` above the trailing
  * `batch_id=` level, and the data columns each file is sorted by. The
  * tables a stream appends to are values of this type: the dedup postings
  * ([[IncrementalDedup.postingsTable]]), the LSH, SQ8, IVF-list and IVF-PQ
  * code tables ([[AnnIndex]]), and [[CorpusIngest]]'s
  * gram tables and decision log. Their writer, their reader and
  * [[Compaction.compactBatchKeyed]] all work from this one value. */
final case class BatchKeyed(root: String, schema: String,
                            levels: Seq[String] = Nil,
                            sortBy: Seq[String] = Nil) {
  import BatchKeyed._

  /** The table's current generation ([[Compaction.currentPath]]). */
  def path: String = Compaction.currentPath(root)

  /** Land `rows` (the table's columns but `batch_id`). With a key, the
    * write dynamically overwrites that key's partitions, so a replay
    * rewrites its own rows and touches no other key. Without one, it
    * appends under the base level, or with `build` replaces the table.
    * Each task sorts its rows by the partition levels, `batch_id`, then
    * `sortBy`: that order satisfies the writer's required ordering, so
    * Spark plans no second sort, and each file carries narrow statistics
    * on the `sortBy` columns. */
  def write(rows: DataFrame, key: Option[String], build: Boolean = false): Unit = {
    key.foreach(check)
    val parts = levels :+ Col
    val w = rows.withColumn(Col, lit(key.getOrElse(Base)))
      .sortWithinPartitions((parts ++ sortBy).map(col): _*)
      .write.partitionBy(parts: _*)
    (key match {
      case Some(_) => w.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      case None => w.mode(if (build) "overwrite" else "append")
    }).parquet(path)
  }

  /** The committed rows but those under `excluding` (the reading batch's
    * own key, so a replay sees the table as it was before its first
    * attempt), read with the declared schema; `None` before the table
    * holds any partition. A root holding any other non-hidden entry is in
    * a layout no code here writes; reading it as empty would silently
    * drop its rows, so the read fails, naming the path. */
  def readCommitted(spark: SparkSession,
                    excluding: Option[String]): Option[DataFrame] = {
    val fs = graft.GraftFs.default
    val dir = path
    val level = (levels :+ Col).head + "="
    val entries =
      if (!fs.isDirectory(dir)) Nil
      else fs.list(dir).map(p => Paths.get(p).getFileName.toString)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
    entries.find(!_.startsWith(level)).foreach(n =>
      throw new IllegalStateException(
        s"$dir: the table holds $n outside a $level partition — a layout " +
          "this code does not write; rebuild the table"))
    Option.when(entries.nonEmpty) {
      val all = spark.read.schema(schema).parquet(dir)
      excluding.fold(all)(k => all.filter(col(Col) =!= k))
    }
  }
}

/** The stream batch key. A micro-batch's key is `<queryId>-<batchId>`:
  * the full streaming query id, which is stable across checkpointed
  * restarts and fresh per new checkpoint, then the batch number. Every
  * batch-keyed table has a trailing `batch_id=` partition level, and `-1`
  * is the base level builds, unkeyed appends and compaction folds write.
  * So
  *   - a replay of batch N overwrites exactly its own partitions;
  *   - a fresh-checkpoint restart, whose batch numbers start over at 0,
  *     lands under new keys and never overwrites a prior lineage's data;
  *   - a batch's reads skip its own key ([[BatchKeyed.readCommitted]]), so
  *     a replay decides from the state its first attempt saw;
  *   - compaction folds every key but the in-flight one into the base
  *     ([[folded]]): that batch is not yet checkpointed and may replay. */
object BatchKeyed {

  /** The key's partition column and the base level's value. */
  val Col = "batch_id"
  val Base = "-1"

  /** The streaming query id of the micro-batch running on this thread. A
    * constant fallback would collapse every lineage onto one key, so a
    * fresh-checkpoint restart would overwrite a prior run's partitions;
    * the property is always set inside `foreachBatch`, and its absence
    * fails. */
  def queryId(spark: SparkSession): String =
    Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse(throw new IllegalStateException(
        "sql.streaming.queryId local property is not set — cannot derive a " +
          "lineage-scoped batch key outside a streaming foreachBatch"))

  /** The key of micro-batch `batchId` of the running stream. */
  def key(spark: SparkSession, batchId: Long): String =
    s"${queryId(spark)}-$batchId"

  /** Every keyed write and delete applies this check: a key names
    * directories, so it may not be empty, traverse out of the table
    * (`/`, `..`) or alias the base level (`-1`, whose replay would replace
    * the folded base). */
  def check(key: String): Unit =
    require(key.nonEmpty && !key.contains("/") && !key.contains("..") &&
      key != Base, s"malformed batch key: $key")

  /** `batch_id` after a compaction fold: the base level, except for the
    * keys in `preserve`, which keep their own. */
  def folded(preserve: Set[String]): Column =
    if (preserve.isEmpty) lit(Base)
    else when(col(Col).isin(preserve.toSeq: _*), col(Col)).otherwise(lit(Base))
}
