package graft.etl

import java.nio.file.{Path, Paths}

import graft.{GraftFs, NioFs}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Small-file compaction for the append-maintained index tables — the
  * 100 TB maintenance job the incremental paths make necessary: every
  * per-batch append ([[IncrementalDedup.ingest]], [[AnnIndex.appendLsh]] /
  * `appendIvf` / `appendSq8`) lands at least one new parquet file per
  * touched partition directory, and after thousands of ingest batches a
  * probe's "pruned" scan opens thousands of KB-sized files — the scan cost
  * becomes file-open bound, not byte bound. Compaction rewrites a table to
  * one file per partition directory (`repartition` on the partition
  * columns → each directory's rows land in exactly one task) and publishes
  * the rewrite as a new pointer-committed generation.
  *
  * Contract: compaction changes FILE LAYOUT only — the row set, the
  * partition-directory structure (so `PartitionFilters` pruning keeps
  * working), and every probe result are unchanged (spec-asserted for the
  * LSH and dedup-posting tables).
  *
  * PUBLISH = VERSIONED POINTER, not a rename swap: the
  * rewrite lands as a complete sibling generation `{path}.vN` and a one-line
  * `{path}._CURRENT` pointer file is atomically renamed over — the same
  * `_CURRENT` discipline [[Warehouse]] and [[BucketedTable]] already use.
  * Readers resolve [[currentPath]] once and then scan an IMMUTABLE complete
  * tree: there is no window in which the table directory is absent or
  * half-moved, so a probe racing an in-stream `compactEvery` can never get
  * a silently empty answer. A crash anywhere before the pointer rename
  * leaves the OLD generation current (the orphan rewrite is reclaimed by the
  * next compaction); a crash after it is simply a completed publish whose
  * vacuum runs next time. The generation retired by a publish is kept for
  * ONE more cycle (grace) so a reader that resolved just before the flip
  * finishes its scan; the generation before THAT is vacuumed. A table that
  * has never been compacted has no pointer and resolves to the plain
  * `{path}` tree (generation 0), so uncompacted tables read/write exactly
  * as before. */
object Compaction {

  // ---- versioned-pointer layout ------------------------------------------

  private def pointerFile(path: String): String = path + "._CURRENT"

  /** The generation the pointer names; 0 = never compacted (flat `path`). */
  def currentVersion(path: String, fs: GraftFs = GraftFs.default): Long = {
    val p = pointerFile(path)
    if (fs.exists(p)) fs.readString(p).trim.toLong else 0L
  }

  /** Resolve a compactable table root to its CURRENT data directory. Every
    * reader and appender of the compaction-maintained index tables
    * ([[AnnIndex]], [[IncrementalDedup]]) routes through this; generation 0
    * is the plain `path`, so tables that never compact are untouched. */
  def currentPath(path: String, fs: GraftFs = GraftFs.default): String = {
    val v = currentVersion(path, fs)
    if (v == 0L) path else s"$path.v$v"
  }

  /** Whether the table has any committed data tree (current generation). */
  def tableExists(path: String, fs: GraftFs = GraftFs.default): Boolean =
    fs.isDirectory(currentPath(path, fs))

  /** Atomic pointer flip — the one shared stage-then-atomic-replace
    * protocol, pointed at this layer's sibling `{path}._CURRENT` location. */
  private def commitPointer(path: String, version: Long, fs: GraftFs): Unit =
    Warehouse.commitPointerAt(pointerFile(path), version, fs)

  /** Delete every generation older than the `grace` newest retired ones:
    * version dirs `{path}.vK` with K ≤ cur−1−grace, and the flat
    * generation-0 tree once cur ≥ 1+grace. Keeping `grace` retired
    * generations gives a concurrent reader that many full maintenance
    * cycles to finish a scan planned against a previous pointer value —
    * SIZE IT TO THE DEPLOYMENT: the default 1 covers scans shorter than
    * one compaction cadence (always true at the gate SFs); a 100 TB table
    * whose analytical scans outlive several in-stream maintenance cycles
    * raises `graceGenerations` on its compaction calls (disk cost: one
    * compacted table copy per kept generation). */
  private def vacuumRetired(path: String, cur: Long, grace: Int,
                            fs: GraftFs): Unit = {
    require(grace >= 1, s"graceGenerations must be >= 1, got $grace")
    versionDirs(path, fs).filter(_._1 <= cur - 1 - grace)
      .foreach(p => fs.deleteRecursively(p._2))
    if (cur >= 1 + grace) fs.deleteRecursively(path)
  }

  /** All `{path}.vN` sibling dirs as (version, dir). */
  private def versionDirs(path: String, fs: GraftFs): Seq[(Long, String)] = {
    val abs = Paths.get(path).toAbsolutePath
    val parent = abs.getParent
    val prefix = abs.getFileName.toString + ".v"
    if (parent == null || !fs.isDirectory(parent.toString)) return Nil
    fs.list(parent.toString).flatMap { p =>
      val n = Paths.get(p).getFileName.toString
      if (n.startsWith(prefix) && fs.isDirectory(p))
        scala.util.Try(n.stripPrefix(prefix).toLong).toOption.map(v => (v, p))
      else None
    }
  }

  /** Reclaim the garbage a crashed run can leave: a staged
    * `._CURRENT.tmp-*` pointer, and any FUTURE generation dir whose pointer
    * flip never happened. Every compaction entry point runs this first —
    * otherwise each failed run leaks a full table copy forever.
    *
    * SINGLE-MAINTAINER CONTRACT: this reclaim assumes no OTHER compaction
    * of the same table is in flight — a concurrent run's live future
    * generation dir is indistinguishable from a dead one's orphan and would
    * be deleted. Concurrent compaction of the same table was never safe
    * here (two publishes would race on the next version number regardless);
    * a production object-store deployment gets both properties from a table
    * format's manifest commit instead. Note READERS are exempt from this
    * contract under the pointer layout — they only resolve and scan, never
    * reclaim. */
  private[etl] def reclaimOrphans(path: String, fs: GraftFs = GraftFs.default): Unit = {
    val cur = currentVersion(path, fs)
    val parent = Paths.get(path).toAbsolutePath.getParent
    val prefix = Paths.get(path).getFileName.toString
    // no existence gate on the table itself: a FRESH table's crashed first
    // publish leaves a future generation dir (and possibly a staged
    // pointer) with neither a flat tree nor a pointer — skipping reclaim
    // there would let the next write land into the orphan's leftover files
    if (parent != null && fs.isDirectory(parent.toString)) {
      // a crashed publish's staged pointer; live generations never match
      fs.list(parent.toString)
        .filter(p => Paths.get(p).getFileName.toString
          .startsWith(prefix + "._CURRENT.tmp-"))
        .foreach(fs.deleteRecursively)
      // a publish that died before its pointer flip leaves a complete (or
      // partial) FUTURE generation dir — garbage either way, reclaim it
      versionDirs(path, fs).filter(_._1 > cur)
        .foreach(p => fs.deleteRecursively(p._2))
    }
  }

  /** Publish the finished rewrite written at `{path}.v{newVer}`: flip the
    * pointer atomically, then vacuum generations older than the
    * `graceGenerations` newest retired ones (see [[vacuumRetired]] for how
    * to size the grace to a deployment's scan-vs-cadence ratio). Shared
    * with [[AvroSource.writeAvro]], which commits its overwrite under the
    * same pointer discipline. */
  private[etl] def publishRewrite(path: String, newVer: Long,
                                  graceGenerations: Int = 1,
                                  fs: GraftFs = GraftFs.default): Unit = {
    commitPointer(path, newVer, fs)
    vacuumRetired(path, newVer, graceGenerations, fs)
  }

  /** Rewrite the parquet table at `path` to one file per partition
    * directory (or `numFiles` total when `partitionCols` is empty — size
    * it to the table at scale; the default 1 fits the gate-SF indexes) and
    * publish it as the next generation. A layout-only rewrite: every
    * column value is kept. Returns (dataFilesBefore, dataFilesAfter). */
  def compactParquet(spark: SparkSession, path: String,
                     partitionCols: Seq[String],
                     numFiles: Int = 1,
                     graceGenerations: Int = 1,
                     fs: GraftFs = GraftFs.default): (Long, Long) =
    rewrite(path, partitionCols, batchKeyed = false, numFiles,
      graceGenerations, fs, sortBy = Nil)(spark.read.parquet(_))

  /** [[compactParquet]] for a [[BatchKeyed]] table — every index table a
    * stream appends to. Besides the layout rewrite it folds the per-batch
    * partitions into the `batch_id=-1` base level ([[BatchKeyed.folded]]):
    * every batch folded here is checkpoint-committed, so none can replay
    * and collide with the base. The read declares the table's schema, so
    * it runs no schema-inference job, and each file is sorted by the
    * table's `sortBy` columns.
    *
    * `preserveBatchKeys` names the batches that are NOT folded: they keep
    * their `batch_id` through the rewrite. The in-stream maintenance
    * cadence ([[CorpusIngest.maintain]]) passes the key it is
    * committing, because that batch is not yet checkpointed: folding it
    * would defeat its replay's read, which skips only its own key — the
    * replay would see its OWN postings as pre-existing index state, drop
    * its own docs, and diverge from the original survivor set. Every
    * earlier batch of the same lineage is checkpoint-committed by the time
    * batch N's body runs, so folding those (and any dead lineage's keys) is
    * safe. `graceGenerations` passes through to the publish (raise it when
    * probes can outlive one maintenance cycle). */
  private[graft] def compactBatchKeyed(spark: SparkSession, table: BatchKeyed,
                                       preserveBatchKeys: Set[String] = Set.empty,
                                       graceGenerations: Int = 1,
                                       fs: GraftFs = GraftFs.default): (Long, Long) =
    rewrite(table.root, table.levels, batchKeyed = true, numFiles = 1,
      graceGenerations, fs, table.sortBy) { src =>
      spark.read.schema(table.schema).parquet(src)
        .withColumn(BatchKeyed.Col, BatchKeyed.folded(preserveBatchKeys))
    }

  /** The compactions' body. `read` loads the current generation;
    * `batchKeyed` writes `batch_id` as a partition level below
    * `partitionCols`; `sortBy` columns follow the write's partition
    * columns in each task's sort, so every file carries narrow min/max
    * statistics on them. */
  private def rewrite(path: String,
                      partitionCols: Seq[String], batchKeyed: Boolean,
                      numFiles: Int, graceGenerations: Int, fs: GraftFs,
                      sortBy: Seq[String])
                     (read: String => DataFrame): (Long, Long) = {
    reclaimOrphans(path, fs)
    val src = currentPath(path, fs)
    val before = dataFileCount(src, fs)
    val df = read(src)
    val writeCols =
      if (batchKeyed) partitionCols :+ "batch_id" else partitionCols
    val newVer = currentVersion(path, fs) + 1
    val dst = s"$path.v$newVer"
    val repartitioned =
      if (partitionCols.nonEmpty) df.repartition(partitionCols.map(col): _*)
      else df.repartition(numFiles)
    val sorted =
      if (sortBy.isEmpty) repartitioned
      else repartitioned.sortWithinPartitions((writeCols ++ sortBy).map(col): _*)
    val writer = sorted.write.mode("overwrite")
    (if (writeCols.nonEmpty) writer.partitionBy(writeCols: _*) else writer)
      .parquet(dst)
    carryHiddenDirs(src, dst, fs)
    publishRewrite(path, newVer, graceGenerations, fs)
    (before, dataFileCount(dst, fs))
  }

  /** Carry a generation's `_`-prefixed SIDECAR directories (e.g. the
    * `_centroids/` table [[AnnIndex.retrainIvf]] embeds beside the list
    * assignments) through a layout rewrite: Spark's scan ignores hidden
    * paths, so the rewrite's own output never contains them — without the
    * copy, a file-count compaction would silently drop the index's paired
    * model metadata. `_SUCCESS`-style marker FILES are not carried (the
    * rewrite emits its own). */
  private def carryHiddenDirs(src: String, dst: String, fs: GraftFs): Unit = {
    if (!fs.isDirectory(src)) return
    val srcP = Paths.get(src)
    val hidden = fs.list(src).filter(p =>
      fs.isDirectory(p) && Paths.get(p).getFileName.toString.startsWith("_"))
    hidden.foreach { dir =>
      fs.walk(dir).foreach { p =>
        val target = Paths.get(dst).resolve(srcP.relativize(Paths.get(p))).toString
        if (fs.isDirectory(p)) fs.createDirectories(target)
        else fs.copy(p, target)
      }
    }
  }

  /** Z-ORDERED compaction — the OPTIMIZE ZORDER maintenance form: rewrite
    * the table CLUSTERED on the Morton interleave of two numeric columns
    * (each grid-quantized from its observed bounds, the same recipe as
    * `q_zorder_layout`), range-partitioned and sorted by the z key, then
    * swapped in. Every file then carries narrow min/max bounds in BOTH
    * dimensions, so scans filtered on either (or both) skip files — where
    * plain [[compactParquet]] only fixes the file-count problem and a
    * single-column sort only bounds its own column. Row set unchanged
    * (CompactionSpec asserts set equality and measures the per-file span
    * shrink). Bounds are one 1-row aggregate; everything else is the
    * rewrite itself. */
  def compactZOrdered(spark: SparkSession, path: String,
                      xCol: String, yCol: String,
                      numFiles: Int = 8,
                      graceGenerations: Int = 1,
                      fs: GraftFs = GraftFs.default): (Long, Long) = {
    graft.expr.GraftFunctions.ensureRegistered(spark)
    reclaimOrphans(path, fs)
    val src = currentPath(path, fs)
    val before = dataFileCount(src, fs)
    val df = spark.read.parquet(src)
    val b = df.agg(
      org.apache.spark.sql.functions.min(col(xCol).cast("long")),
      org.apache.spark.sql.functions.max(col(xCol).cast("long")),
      org.apache.spark.sql.functions.min(col(yCol).cast("long")),
      org.apache.spark.sql.functions.max(col(yCol).cast("long"))).collect().head
    // empty table / all-null cluster columns: no bounds to quantize from —
    // degrade to the plain file-count rewrite instead of NPEing on getLong
    if (b.isNullAt(0) || b.isNullAt(2))
      return compactParquet(spark, path, Nil, numFiles,
        graceGenerations = graceGenerations, fs = fs)
    val (xlo, xhi, ylo, yhi) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    // Overflow-safe quantization over ARBITRARY long ranges (this is a
    // generic API — a naive `(x - xlo) * 256 div span` overflows long as
    // soon as the observed span exceeds Long.MaxValue/256 and silently
    // mis-clusters): precompute the cell width as ceil(span/256) in BigInt
    // (span itself can exceed Long range), then quantize as
    // `(x - xlo) div cellW` with the subtraction done in DECIMAL(38,0) so
    // extreme bounds cannot wrap. cellW ≤ 2^56, cell ≤ 255 by construction.
    def cellW(hi: Long, lo: Long): Long =
      (((BigInt(hi) - BigInt(lo) + 1) + 255) / 256).max(1).toLong
    val (xw, yw) = (cellW(xhi, xlo), cellW(yhi, ylo))
    import org.apache.spark.sql.functions.{call_function, expr}
    val zed = df
      .withColumn("__zx",
        expr(s"cast((cast($xCol as decimal(38,0)) - $xlo) div $xw as int)"))
      .withColumn("__zy",
        expr(s"cast((cast($yCol as decimal(38,0)) - $ylo) div $yw as int)"))
      .withColumn("__z", call_function("morton32", col("__zx"), col("__zy")))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__zx", "__zy", "__z")
    val newVer = currentVersion(path, fs) + 1
    val dst = s"$path.v$newVer"
    zed.write.mode("overwrite").parquet(dst)
    publishRewrite(path, newVer, graceGenerations, fs)
    (before, dataFileCount(dst, fs))
  }

  private def dataFileCount(root: String, fs: GraftFs): Long = {
    import scala.jdk.CollectionConverters._
    val rootP = Paths.get(root)
    // files under `_`-prefixed sidecar dirs (embedded model metadata) are
    // not DATA files — the scan never reads them and the before/after
    // comparison must not count them
    fs.walk(root).count { p =>
      val pp = Paths.get(p)
      val n = pp.getFileName.toString
      fs.isFile(p) && n.endsWith(".parquet") && !n.startsWith(".") &&
        !rootP.relativize(pp).iterator().asScala.exists(
          _.getFileName.toString.startsWith("_"))
    }
  }

  /** Shared recursive delete (ONE copy of the walk-reverse-delete idiom —
    * also used by [[AvroSource]] and [[graft.stream.Streams]]); now a thin
    * alias for [[GraftFs.deleteRecursively]] kept for its Path-typed
    * call sites. */
  private[graft] def deleteRecursively(dir: Path): Unit =
    NioFs.deleteRecursively(dir.toString)
}
