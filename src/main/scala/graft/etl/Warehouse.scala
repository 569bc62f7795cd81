package graft.etl

import graft.GraftFs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Warehouse maintenance (SURVEY.md §4 layout notes): streaming upserts and
  * per-batch incremental writes accumulate small files; scans then pay one
  * task + one open per fragment. Compaction rewrites a parquet dataset into
  * ~`targetMB` files sized from the ACTUAL on-disk bytes (not row counts —
  * compression ratios vary per column mix), using the same write-aside +
  * atomic-swap pattern as the streaming upsert sink. */
object Warehouse {

  /** Total parquet bytes under `path` (driver-side FS listing — metadata
    * only, no data read). */
  private def dataBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) total += f.getLen
    }
    total
  }

  /** Compact `path` in place; returns the file count written.
    *
    * NOTE: the delete-then-rename swap has a reader-visible window (a scan
    * listing `path` between the two calls sees nothing) — acceptable for
    * single-writer maintenance jobs, NOT for live tables. Live tables use
    * the [[publish]]/[[readCurrent]] manifest layer below, whose commit is
    * one atomic pointer rename with no window. */
  def compact(spark: SparkSession, path: String, targetMB: Int = 128): Int = {
    val nFiles = math.max(1L,
      (dataBytes(spark, path) + targetMB * 1024L * 1024 - 1) / (targetMB * 1024L * 1024))
    val staging = new Path(path + "__compacting")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(path)
      .repartition(nFiles.toInt)
      .write.mode("overwrite").parquet(staging.toString)
    val cur = new Path(path)
    fs.delete(cur, true)
    fs.rename(staging, cur)
    nFiles.toInt
  }

  // ---- versioned manifest layer ------------------------------------------

  /** Atomic full-table republish without a reader-visible window — the
    * manifest-pointer pattern every transactional table format builds on
    * (snapshot dirs + one mutable pointer): data lands in an immutable
    * `v=N/` dir, and the COMMIT is a single atomic rename onto the
    * `_CURRENT` pointer file. A reader resolves the pointer first
    * ([[readCurrent]]) and then scans only that snapshot dir, so it sees
    * entirely-old or entirely-new — never a mix, never an empty table.
    * Old snapshots stay readable (time travel) until [[vacuum]].
    *
    * Returns the published version. Concurrent publishers both succeed
    * (distinct version dirs; last pointer rename wins — snapshot isolation,
    * not serialized writes: the right default for full-table refresh).
    * The snapshot dir is pre-created to claim its number, so `write` must
    * use `mode("overwrite")` (or any writer tolerant of an existing empty
    * dir). */
  def publish(tableDir: String,
              write: String => Unit, fs: GraftFs = GraftFs.default): Long = {
    val version = claimVersion(tableDir, fs)
    write(s"$tableDir/v=$version")
    commitPointer(tableDir, version, fs)
    version
  }

  /** Claim max(existing)+1 by an ATOMIC create-if-absent claim
    * ([[GraftFs.createDirectoryClaim]]): versions stay dense and monotone
    * across process restarts (a clock- or nanoTime-based id would not be —
    * nanoTime's origin is arbitrary per JVM), and two concurrent publishers
    * can never land in the same snapshot dir — the loser of the claim races
    * to the next number. Shared by [[publish]] and [[BucketedTable.commit]]
    * — ONE copy of the claim discipline. */
  private[etl] def claimVersion(tableDir: String, fs: GraftFs = GraftFs.default): Long = {
    fs.createDirectories(tableDir)
    def existingMax: Long =
      fs.list(tableDir).map(p => java.nio.file.Paths.get(p).getFileName.toString)
        .filter(_.startsWith("v=")).map(_.stripPrefix("v=").toLong)
        .foldLeft(0L)(math.max)
    var version = existingMax + 1
    while (!fs.createDirectoryClaim(s"$tableDir/v=$version")) version += 1
    version
  }

  /** The COMMIT: stage the pointer content, then one atomic rename onto
    * `_CURRENT`. Shared by both manifest layers. */
  private[etl] def commitPointer(tableDir: String, version: Long,
                                 fs: GraftFs = GraftFs.default): Unit =
    commitPointerAt(s"$tableDir/_CURRENT", version, fs)

  /** The ONE copy of the stage-then-atomic-replace pointer-commit protocol,
    * parameterized on where the pointer file lives: inside the table dir
    * (the Warehouse/BucketedTable manifest layers) or as a `{table}._CURRENT`
    * sibling ([[Compaction]]'s generation pointer). Any future protocol
    * change (parent-dir fsync, tmp-collision handling, non-POSIX rename
    * fallback) lands here once — or in the [[GraftFs]] implementation when
    * the store itself changes. */
  private[etl] def commitPointerAt(pointer: String, version: Long,
                                   fs: GraftFs = GraftFs.default): Unit = {
    val tmp = pointer + s".tmp-$version"
    fs.writeString(tmp, version.toString)
    fs.atomicReplace(tmp, pointer)
  }

  /** CONDITIONAL pointer flip (r16): replace the pointer iff its bytes are
    * still exactly what the caller's parent check read. On stores with
    * [[GraftFs.replaceIfMatch]] this closes the one TOCTOU
    * [[BucketedTable]]'s locked publish cannot on a no-advisory-lock store
    * — when `tryProcessLock` degrades to None, a cross-process racer can
    * move the pointer between the parent check and the flip, and the loss
    * was previously only detected AFTER the rename (post-commit chain
    * check / lease fence). With conditional PUT the flip itself is
    * exactly-one-wins: the loser raises BEFORE clobbering, its version dir
    * reclaimed by vacuum. Degrades to the plain stage+replace where the
    * primitive is unavailable (the prior behavior, backstopped by the
    * after-the-fact checks). */
  private[graft] def commitPointerCas(pointer: String, version: Long,
                                    expectedRaw: Option[String],
                                    fs: GraftFs = GraftFs.default): Unit =
    fs.replaceIfMatch(pointer, expectedRaw, version.toString) match {
      case Some(true) => ()
      case Some(false) => throw new java.util.ConcurrentModificationException(
        s"$pointer: conditional pointer flip lost — another publisher moved " +
          "the pointer between this commit's parent check and its flip " +
          "(concurrent writer on a no-advisory-lock store); this publish is " +
          "abandoned and its version dir reclaimed by vacuum")
      case None => commitPointerAt(pointer, version, fs)
    }

  /** The version the `_CURRENT` pointer names (fails if never published). */
  def currentVersion(tableDir: String, fs: GraftFs = GraftFs.default): Long =
    fs.readString(s"$tableDir/_CURRENT").trim.toLong

  /** Scan the current snapshot: resolve the pointer ONCE, then read only
    * that immutable dir — the scan cannot straddle a republish. Pass an
    * explicit `version` for time travel. */
  def readCurrent(spark: SparkSession, tableDir: String,
                  version: Option[Long] = None, fs: GraftFs = GraftFs.default) = {
    val v = version.getOrElse(currentVersion(tableDir, fs))
    spark.read.parquet(s"$tableDir/v=$v")
  }

  /** Drop every snapshot dir except the current one (and any newer), plus
    * any `_CURRENT.tmp-*` left by a publish that crashed between staging
    * its pointer and the atomic rename. Returns dropped snapshot count. */
  def vacuum(tableDir: String, fs: GraftFs = GraftFs.default): Int = {
    val cur = currentVersion(tableDir, fs)
    val entries = fs.list(tableDir)
    def name(p: String) = java.nio.file.Paths.get(p).getFileName.toString
    // only STALE staged pointers (version <= current): a newer tmp may be a
    // commitPointer mid-flight between staging and its atomic rename
    entries.filter { p =>
      val n = name(p)
      n.startsWith("_CURRENT.tmp-") &&
        scala.util.Try(n.stripPrefix("_CURRENT.tmp-").toLong <= cur).getOrElse(true)
    }.foreach(fs.deleteIfExists)
    val doomed = entries.filter { p =>
      val n = name(p)
      n.startsWith("v=") && n.stripPrefix("v=").toLong < cur
    }
    doomed.foreach(fs.deleteRecursively)
    doomed.size
  }
}
