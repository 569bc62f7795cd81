package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.etl.{AnnIndex, Compaction, IncrementalDedup}

/** Contract of [[graft.etl.Compaction]]: a compaction changes FILE LAYOUT
  * only — fewer data files, same rows, same partition-directory structure
  * (pruned probes keep working), and for the dedup posting table the
  * replay/collision invariants survive the rewrite. */
class CompactionSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def vecRows(ids: Range): Seq[(Long, Int, Array[Float])] = {
    ids.map { i =>
      // draw per-id deterministic vectors (order-independent across calls)
      val r = new scala.util.Random(1000 + i)
      (i.toLong, i % 5, Array.fill(64)(r.nextGaussian().toFloat))
    }
  }

  test("LSH posting compaction: fewer files, identical probe results, pruning preserved") {
    val idx = java.nio.file.Files.createTempDirectory("graft_lsh_cmp").toString
    AnnIndex.buildLsh(vecRows(0 until 100).toDF("vec_id", "label", "embedding"),
      idx, bands = 3, bits = 8)
    // simulate many small ingest batches: per-batch appends fragment the dirs
    (1 to 4).foreach { b =>
      AnnIndex.appendLsh(
        vecRows(100 * b until 100 * (b + 1)).toDF("vec_id", "label", "embedding"),
        idx, bands = 3, bits = 8)
    }
    val cells = for (b <- 0 until 3; k <- 0 until 16) yield (b, k)
    val before = AnnIndex.lshPostingScan(spark, idx, cells)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted.toSeq
    assert(before.nonEmpty)

    val (nBefore, nAfter) = Compaction.compactBatchKeyed(spark, AnnIndex.lshTable(idx))
    assert(nAfter < nBefore, s"compaction must reduce files ($nBefore -> $nAfter)")

    val after = AnnIndex.lshPostingScan(spark, idx, cells)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted.toSeq
    assert(after === before, "compaction must not change the posting row set")
    // direct band= path addressing still works: the partition layout
    // survived the rewrite (lshPostingScan just proved it by reading paths)
    val aCell = AnnIndex.lshPostingScan(spark, idx, Seq(before.head._2 -> before.head._3))
    assert(aCell.collect().nonEmpty)
  }

  test("IVF-PQ code compaction: fewer files, identical pruned code reads, pruning preserved") {
    val ivf = java.nio.file.Files.createTempDirectory("graft_ivf_cmp").toString
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_cmp").toString
    val base = vecRows(0 until 100).toDF("vec_id", "label", "embedding")
    AnnIndex.build(base, ivf, nlist = 4)
    AnnIndex.buildIvfPq(base, ivf, idx, m = 4, k = 16)
    // frozen-model appends fragment the per-list code dirs
    (1 to 3).foreach { b =>
      AnnIndex.appendIvfPq(
        vecRows(100 * b until 100 * (b + 1)).toDF("vec_id", "label", "embedding"),
        ivf, idx)
    }
    def snap() = AnnIndex.ivfPqScan(spark, idx, Seq(0, 1, 2, 3))
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Array[Byte]]("code").toSeq,
                 r.getAs[Double]("rnorm"), r.getAs[Int]("list_id")))
      .sortBy(_._1).toSeq
    val before = snap()
    assert(before.map(_._1).distinct.size === 400,
      "every built + appended vector must carry exactly one code row")

    val (nBefore, nAfter) = Compaction.compactBatchKeyed(spark, AnnIndex.codesTable(idx))
    assert(nAfter < nBefore, s"compaction must reduce files ($nBefore -> $nAfter)")
    assert(snap() === before, "compaction must not change the code row set")
    // pruned single-list read still works post-rewrite
    val oneList = AnnIndex.ivfPqScan(spark, idx, Seq(before.head._4))
    assert(oneList.collect().nonEmpty)
  }

  test("dedup posting compaction: replay and collision invariants survive the rewrite") {
    val idx = java.nio.file.Files.createTempDirectory("graft_dedup_cmp").toString
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val b1 = docs.filter(col("doc_id") < 200)
    val b2 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)
    val kept1 = IncrementalDedup.ingest(b1, idx).collect().map(_.getLong(0)).toSet
    IncrementalDedup.ingest(b2, idx)
    assert(kept1.nonEmpty)

    val (nBefore, nAfter) = Compaction.compactBatchKeyed(spark, IncrementalDedup.postingsTable(idx))
    assert(nAfter < nBefore, s"compaction must reduce files ($nBefore -> $nAfter)")

    // replay guarantee must survive: every INDEXED doc collides with its
    // own (compacted) postings and is dropped on replay (docs dropped in
    // the original ingest may legitimately re-admit under the documented
    // greedy chain semantics — that set is not compaction's concern)
    val replayKept = IncrementalDedup
      .ingest(b1.join(kept1.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi"), idx)
      .collect()
    assert(replayKept.isEmpty,
      "replayed indexed docs must drop against compacted postings")
    // and a genuinely new batch still ingests
    val b3kept = IncrementalDedup.ingest(docs.filter(col("doc_id") >= 400), idx).collect()
    assert(b3kept.nonEmpty)
  }

  test("z-ordered compaction: row set unchanged, per-file spans shrink in BOTH dimensions") {
    import org.apache.spark.sql.functions.{expr, input_file_name, max, min, sum}
    val dir = java.nio.file.Files.createTempDirectory("graft_zcomp").toString + "/orders_z"
    // a randomly-laid-out 16-file table carrying two clusterable dims
    Tables.orders(spark, TestSpark.sfDir)
      .select(col("o_orderkey"), col("o_custkey"),
        expr("cast(year(o_orderdate) * 12 + month(o_orderdate) - 1 as bigint)").as("mn"))
      .repartition(16)
      .write.mode("overwrite").parquet(dir)
    def spanSums(): (Long, Long) = {
      val r = spark.read.parquet(Compaction.currentPath(dir))
        .groupBy(input_file_name())
        .agg((max(col("o_custkey")) - min(col("o_custkey"))).as("sx"),
             (max(col("mn")) - min(col("mn"))).as("sy"))
        .agg(sum(col("sx")), sum(col("sy"))).collect().head
      (r.getLong(0), r.getLong(1))
    }
    val rowsBefore = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    val (bx, by) = spanSums()
    // 16 range files = 4 top z-bit cuts = 2 cuts per dimension: each file
    // spans ~1/4 of each dim, so both span sums shrink ~4x vs random layout
    val (_, filesAfter) = graft.etl.Compaction.compactZOrdered(
      spark, dir, "o_custkey", "mn", numFiles = 16)
    assert(filesAfter <= 16L)
    val cdir = Compaction.currentPath(dir)
    val rowsAfter = spark.read.parquet(cdir).collect().map(_.toString).sorted.toSeq
    assert(rowsAfter === rowsBefore, "compaction must not change the row set")
    val (ax, ay) = spanSums()
    // random layout exposes ~the full range of both dims in every file; the
    // z layout must bound both — demand at least a 2x shrink in each
    assert(ax * 2 < bx, s"custkey span sum $ax must halve the random layout's $bx")
    assert(ay * 2 < by, s"month span sum $ay must halve the random layout's $by")
  }

  test("z-ordered compaction survives extreme long ranges: no quantization overflow, rows intact, still clustered") {
    // the generic-API hazard: a column whose observed span exceeds
    // Long.MaxValue/256 (~3.6e16) overflows the naive (x - lo) * 256
    // quantization and silently mis-clusters - the overflow-safe cell math
    // must keep producing a genuinely clustered layout on such a span
    import org.apache.spark.sql.functions.{expr, input_file_name, max, min}
    val dir = java.nio.file.Files.createTempDirectory("graft_zwide").toString + "/wide"
    val step = 6250000000000000L // 64 steps -> span ~4e17 >> Long.MaxValue/256
    spark.range(0, 4096)
      .select(col("id"),
        (col("id") % 64 * lit(step) - lit(200000000000000000L)).as("x"),
        expr("id div 64").as("y"))
      .repartition(8)
      .write.mode("overwrite").parquet(dir)
    val before = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    graft.etl.Compaction.compactZOrdered(spark, dir, "x", "y", numFiles = 8)
    val after = spark.read.parquet(Compaction.currentPath(dir))
      .collect().map(_.toString).sorted.toSeq
    assert(after === before, "extreme-range compaction must not change the row set")
    // the rewrite must still CLUSTER: overflowed (garbage) cells would
    // randomize the interleave and leave near-full x/y spans in every file
    val perFile = spark.read.parquet(Compaction.currentPath(dir))
      .groupBy(input_file_name())
      .agg((max(col("x")) - min(col("x"))).as("sx"),
           (max(col("y")) - min(col("y"))).as("sy"))
      .collect()
    val fullX = 63L * step
    val xBounded = perFile.count(_.getAs[Long]("sx") <= fullX / 2)
    assert(xBounded >= perFile.length - 2,
      s"all but boundary files must bound x to half its range; " +
        s"bounded $xBounded of ${perFile.length}")
    // y's 6-bit grid holds fewer top z-bits than x's 8-bit grid, so the 8
    // range cuts fall mostly on x — demand only clearly-better-than-random
    // for y (the overflow hazard lives in the wide x dimension above)
    val ySum = perFile.map(_.getAs[Long]("sy")).sum
    assert(ySum < 63L * perFile.length * 4 / 5,
      s"y span sum $ySum must beat the full-span-per-file worst case")
  }

  test("versioned publish: a reader racing repeated compactions always sees a complete snapshot") {
    import java.nio.file.Files
    val idx = Files.createTempDirectory("graft_cmp_race").toString
    AnnIndex.buildLsh(vecRows(0 until 60).toDF("vec_id", "label", "embedding"),
      idx, bands = 3, bits = 8)
    (1 to 2).foreach { b =>
      AnnIndex.appendLsh(
        vecRows(60 * b until 60 * (b + 1)).toDF("vec_id", "label", "embedding"),
        idx, bands = 3, bits = 8)
    }
    val cells = for (b <- 0 until 3; k <- 0 until 16) yield (b, k)
    val expected = AnnIndex.lshPostingScan(spark, idx, cells).count()
    assert(expected > 0)
    // maintainer thread: publish 4 more generations back-to-back while the
    // main thread probes continuously — under the old rename swap the probe
    // had a window where the table dir was ABSENT and read as empty
    @volatile var maintainerDone = false
    @volatile var maintainerErr: Option[Throwable] = None
    val maintainer = new Thread(() => {
      try (1 to 4).foreach(_ => Compaction.compactBatchKeyed(spark, AnnIndex.lshTable(idx)))
      catch { case t: Throwable => maintainerErr = Some(t) }
      finally maintainerDone = true
    })
    maintainer.start()
    var probes = 0
    try {
      while (!maintainerDone) {
        val n = AnnIndex.lshPostingScan(spark, idx, cells).count()
        assert(n === expected,
          s"a probe concurrent with compaction returned $n of $expected postings")
        probes += 1
      }
    } finally maintainer.join()
    maintainerErr.foreach(throw _)
    assert(probes > 0, "the reader loop must have raced at least one publish")
    assert(AnnIndex.lshPostingScan(spark, idx, cells).count() === expected)
  }

  test("crash mid-publish leaves the old generation current; the next run reclaims and publishes") {
    import java.nio.file.{Files, Paths}
    val idx = Files.createTempDirectory("graft_cmp_crashpub").toString
    val docs = Tables.documents(spark, TestSpark.sfDir)
    IncrementalDedup.ingest(docs.filter(col("doc_id") < 100), idx)
    val postings = s"$idx/postings"
    Compaction.compactBatchKeyed(spark, IncrementalDedup.postingsTable(idx)) // publish v1
    assert(Compaction.currentVersion(postings) === 1L)
    val rows0 = spark.read.parquet(Compaction.currentPath(postings))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // fabricate a publish that died AFTER writing its rewrite and staging
    // its pointer but BEFORE the atomic rename: a half-written v2 tree plus
    // a staged tmp pointer
    Files.createDirectories(Paths.get(postings + ".v2"))
    Files.writeString(Paths.get(postings + "._CURRENT.tmp-2"), "2")
    assert(Compaction.currentVersion(postings) === 1L,
      "an unflipped pointer must leave the old generation current")
    assert(spark.read.parquet(Compaction.currentPath(postings))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === rows0,
      "readers during the crash window must see the full old generation")
    // the next maintenance run reclaims the orphan and publishes cleanly
    Compaction.compactBatchKeyed(spark, IncrementalDedup.postingsTable(idx)) // reclaims, publishes v2
    assert(Compaction.currentVersion(postings) === 2L)
    assert(!Files.exists(Paths.get(postings + "._CURRENT.tmp-2")),
      "the staged pointer of the crashed publish must be reclaimed")
    assert(spark.read.parquet(Compaction.currentPath(postings))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === rows0)
    // grace retention: v1 (the generation retired by THIS publish) survives
    // one cycle; one more publish vacuums it
    assert(Files.isDirectory(Paths.get(postings + ".v1")),
      "the just-retired generation must be kept as the reader grace copy")
    Compaction.compactBatchKeyed(spark, IncrementalDedup.postingsTable(idx)) // v3: v1 leaves grace, dies
    assert(Compaction.currentVersion(postings) === 3L)
    assert(!Files.exists(Paths.get(postings + ".v1")),
      "generations beyond the grace one must be vacuumed")
    assert(spark.read.parquet(Compaction.currentPath(postings))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === rows0)
  }

  test("graceGenerations sizes the retired-generation window for long scans") {
    import java.nio.file.{Files, Paths}
    val idx = Files.createTempDirectory("graft_cmp_grace").toString
    val docs = Tables.documents(spark, TestSpark.sfDir)
    IncrementalDedup.ingest(docs.filter(col("doc_id") < 80), idx)
    val postings = s"$idx/postings"
    val rows0 = spark.read.parquet(postings)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // four publishes at grace=2: after v4, v2 and v3 must survive as the
    // two-reader-cycle window, v1 and the flat gen-0 tree must be gone
    (1 to 4).foreach(_ =>
      Compaction.compactBatchKeyed(spark, IncrementalDedup.postingsTable(idx), graceGenerations = 2))
    assert(Compaction.currentVersion(postings) === 4L)
    assert(!Files.exists(Paths.get(postings)), "flat gen-0 beyond the window")
    assert(!Files.exists(Paths.get(postings + ".v1")), "v1 beyond the window")
    assert(Files.isDirectory(Paths.get(postings + ".v2")) &&
      Files.isDirectory(Paths.get(postings + ".v3")),
      "a grace of 2 must keep the two newest retired generations")
    // a reader that resolved one OR two cycles ago still scans a full copy
    for (v <- 2 to 4)
      assert(spark.read.parquet(s"$postings.v$v")
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq === rows0)
    // lowering the grace back to 1 reclaims the extra generation at the
    // next publish
    Compaction.compactBatchKeyed(spark, IncrementalDedup.postingsTable(idx))
    assert(Compaction.currentVersion(postings) === 5L)
    assert(!Files.exists(Paths.get(postings + ".v2")) &&
      !Files.exists(Paths.get(postings + ".v3")),
      "a narrower grace must reclaim generations beyond the new window")
    assert(Files.isDirectory(Paths.get(postings + ".v4")))
  }
}
