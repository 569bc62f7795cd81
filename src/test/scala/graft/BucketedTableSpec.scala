package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.BucketedTable

/** Unit contracts of the hash-bucketed manifest table (the r11 streaming
  * sinks' state layer): partial commits, manifest-reference carry-over,
  * time travel, and the reference-aware vacuum. The sink-level integration
  * (untouched-bucket byte identity across micro-batches) lives in
  * StreamingSpec. */
class BucketedTableSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val nB = 8
  private def bucketOf(k: Long): Int = Seq(k).toDF("k")
    .select(BucketedTable.bucketExpr(Seq("k"), nB)).head().getInt(0)

  private def withBucket(rows: Seq[(Long, String)]) =
    rows.toDF("k", "v")
      .withColumn(BucketedTable.BucketCol, BucketedTable.bucketExpr(Seq("k"), nB))

  private def commitRows(dir: String, rows: Seq[(Long, String)]): Long = {
    val df = withBucket(rows)
    BucketedTable.commit(dir, nB,
      rows.map(r => bucketOf(r._1)).distinct,
      d => df.write.mode("overwrite").partitionBy(BucketedTable.BucketCol).parquet(d))
  }

  test("partial commit: only touched buckets land in the new version; reads stitch across versions") {
    val dir = Files.createTempDirectory("graft_bt").resolve("t").toString
    val kA = 1L
    val kB = (2L to 100L).find(bucketOf(_) != bucketOf(kA)).get
    val v1 = commitRows(dir, Seq(kA -> "a1", kB -> "b1"))
    // second commit touches ONLY kA's bucket, superseding a1
    val v2 = commitRows(dir, Seq(kA -> "a2"))
    assert(v2 > v1)
    val m = BucketedTable.readManifest(dir)
    assert(m.nBuckets === nB)
    assert(m.buckets(bucketOf(kA)) === v2 && m.buckets(bucketOf(kB)) === v1)
    // current read stitches v2's bucket for kA with v1's for kB
    val cur = BucketedTable.readCurrent(spark, dir)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).sorted.toSeq
    assert(cur === Seq(kA -> "a2", kB -> "b1").sorted)
    // the bucket column is internal: not reconstituted into reader schema
    assert(!BucketedTable.readCurrent(spark, dir).columns
      .contains(BucketedTable.BucketCol))
    // keyed-slice read touches only the named bucket
    val slice = BucketedTable.readBuckets(spark, dir, Seq(bucketOf(kB)),
      empty = Seq.empty[(Long, String)].toDF("k", "v"))
    assert(slice.collect().map(_.getAs[String]("v")).toSeq === Seq("b1"))
  }

  test("add-column evolution: metadata-only commit, untouched buckets byte-identical, defaults fill exactly the pre-evolution data") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_bt_ev").resolve("t").toString
    val kA = 1L
    val kB = (2L to 100L).find(bucketOf(_) != bucketOf(kA)).get
    val v1 = commitRows(dir, Seq(kA -> "a1", kB -> "b1"))
    def treeBytes(v: Long): Map[String, Seq[Byte]] = {
      val root = java.nio.file.Paths.get(dir, s"v=$v")
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString ->
          Files.readAllBytes(p).toSeq).toMap
      finally s.close()
    }
    val before = treeBytes(v1)
    val ev = BucketedTable.evolveAddColumn(spark, dir, "score", "int", "7")
    // METADATA-ONLY: the evolution version holds nothing but its manifest,
    // and every pre-evolution data file is byte-identical on disk
    val evFiles = {
      val s = Files.list(java.nio.file.Paths.get(dir, s"v=$ev"))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
    assert(evFiles === Seq("_MANIFEST"),
      s"evolution must be a metadata-only commit, found $evFiles")
    assert(treeBytes(v1) === before, "untouched bucket files must stay byte-identical")
    // every pre-evolution row reads the declared default
    val afterEv = BucketedTable.readCurrent(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"), r.getAs[Int]("score")))
      .sorted.toSeq
    assert(afterEv === Seq((kA, "a1", 7), (kB, "b1", 7)).sorted)
    // declaration-time validation: duplicate column and unparsable default
    intercept[IllegalArgumentException] {
      BucketedTable.evolveAddColumn(spark, dir, "score", "int", "0")
    }
    intercept[Exception] {
      BucketedTable.evolveAddColumn(spark, dir, "bad", "int", "not a ( literal")
    }
    // structural constancy (r15, advice): a column reference parses and
    // even evaluates against a probe frame exposing `id`, but at read time
    // it would rebind to a TABLE column — must fail at declaration
    val colRef = intercept[IllegalArgumentException] {
      BucketedTable.evolveAddColumn(spark, dir, "bad2", "bigint", "id")
    }
    assert(colRef.getMessage.contains("references column"),
      s"column-reference default must be named as such: ${colRef.getMessage}")
    intercept[IllegalArgumentException] {
      BucketedTable.evolveAddColumn(spark, dir, "bad3", "bigint", "k + 1")
    }
    // non-deterministic "constants" vary per read — must fail at declaration
    val nonDet = intercept[IllegalArgumentException] {
      BucketedTable.evolveAddColumn(spark, dir, "bad4", "double", "rand()")
    }
    assert(nonDet.getMessage.contains("non-deterministic"))
    // deterministic constant FOLDS of functions still pass
    val okV = BucketedTable.evolveAddColumn(spark, dir, "okc", "int", "1 + 2")
    assert(okV > ev)
    BucketedTable.evolveDropColumn(dir, "okc")
    // a post-evolution commit carries REAL values; the untouched bucket
    // keeps default-filling (and stays byte-identical)
    val df3 = Seq((kA, "a2", 42)).toDF("k", "v", "score")
      .withColumn(BucketedTable.BucketCol, BucketedTable.bucketExpr(Seq("k"), nB))
    BucketedTable.commit(dir, nB, Seq(bucketOf(kA)),
      d => df3.write.mode("overwrite")
        .partitionBy(BucketedTable.BucketCol).parquet(d))
    val mixed = BucketedTable.readCurrent(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"), r.getAs[Int]("score")))
      .sorted.toSeq
    assert(mixed === Seq((kA, "a2", 42), (kB, "b1", 7)).sorted,
      "stored values must read back as stored; only pre-evolution data defaults")
    assert(treeBytes(v1) === before)
    // the keyed-slice read fills too (the sink fold path)
    val slice = BucketedTable.readBuckets(spark, dir, Seq(bucketOf(kB)),
      empty = Seq.empty[(Long, String, Int)].toDF("k", "v", "score"))
      .collect().map(r => (r.getAs[String]("v"), r.getAs[Int]("score"))).toSeq
    assert(slice === Seq(("b1", 7)))
    // rebucket MATERIALIZES the evolution: declarations drop, values persist
    BucketedTable.rebucket(spark, dir, Seq("k"), nB)
    assert(BucketedTable.readManifest(dir).evolutions.isEmpty,
      "a full rewrite must materialize and drop the evolution declarations")
    val post = BucketedTable.readCurrent(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"), r.getAs[Int]("score")))
      .sorted.toSeq
    assert(post === mixed)
  }

  test("drop-column evolution: metadata-only, pre-drop bytes intact, reads project the column away") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_bt_drop").resolve("t").toString
    val kA = 1L
    val kB = (2L to 100L).find(bucketOf(_) != bucketOf(kA)).get
    // 3-column table from the start: (k, v, score)
    def commit3(rows: Seq[(Long, String, Int)]): Long = {
      val df = rows.toDF("k", "v", "score")
        .withColumn(BucketedTable.BucketCol, BucketedTable.bucketExpr(Seq("k"), nB))
      BucketedTable.commit(dir, nB,
        rows.map(r => bucketOf(r._1)).distinct,
        d => df.write.mode("overwrite")
          .partitionBy(BucketedTable.BucketCol).parquet(d))
    }
    val v1 = commit3(Seq((kA, "a1", 5), (kB, "b1", 6)))
    def treeBytes(v: Long): Map[String, Seq[Byte]] = {
      val root = java.nio.file.Paths.get(dir, s"v=$v")
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString ->
          Files.readAllBytes(p).toSeq).toMap
      finally s.close()
    }
    val before = treeBytes(v1)
    val dv = BucketedTable.evolveDropColumn(dir, "score")
    val dvFiles = {
      val s = Files.list(java.nio.file.Paths.get(dir, s"v=$dv"))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
    assert(dvFiles === Seq("_MANIFEST"), "drop must be a metadata-only commit")
    assert(treeBytes(v1) === before, "pre-drop bucket files must stay byte-identical")
    val dropped = BucketedTable.readCurrent(spark, dir)
    assert(!dropped.columns.contains("score"),
      s"reads must project the dropped column away, got ${dropped.columns.toSeq}")
    assert(dropped.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v")))
      .sorted.toSeq === Seq((kA, "a1"), (kB, "b1")).sorted)
    // post-drop commits carry the NARROW schema; mixed-era reads agree
    val df2 = Seq((kA, "a2")).toDF("k", "v")
      .withColumn(BucketedTable.BucketCol, BucketedTable.bucketExpr(Seq("k"), nB))
    BucketedTable.commit(dir, nB, Seq(bucketOf(kA)),
      d => df2.write.mode("overwrite")
        .partitionBy(BucketedTable.BucketCol).parquet(d))
    val mixed = BucketedTable.readCurrent(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).sorted.toSeq
    assert(mixed === Seq((kA, "a2"), (kB, "b1")).sorted)
    // re-adding a dropped name is refused (pre-drop values would resurface)
    val err = intercept[IllegalArgumentException] {
      BucketedTable.evolveAddColumn(spark, dir, "score", "int", "0")
    }
    assert(err.getMessage.contains("DROP"))
    // add-then-drop retires the add in one step: the column never surfaces
    BucketedTable.evolveAddColumn(spark, dir, "tier", "string", "'basic'")
    BucketedTable.evolveDropColumn(dir, "tier")
    assert(!BucketedTable.readCurrent(spark, dir).columns.contains("tier"))
    // rebucket MATERIALIZES: declarations drop, stored files no longer
    // carry the dropped column, and the read is unchanged
    BucketedTable.rebucket(spark, dir, Seq("k"), nB)
    val m = BucketedTable.readManifest(dir)
    assert(m.drops.isEmpty && m.evolutions.isEmpty)
    assert(BucketedTable.readCurrent(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).sorted.toSeq === mixed)
  }

  test("rename-column evolution: metadata-only, pre-rename bytes intact, mixed-era reads alias old data to the new name (r15 judge #7)") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft_bt_ren").resolve("t").toString
    val kA = 1L
    val kB = (2L to 100L).find(bucketOf(_) != bucketOf(kA)).get
    val v1 = commitRows(dir, Seq(kA -> "a1", kB -> "b1"))
    def treeBytes(v: Long): Map[String, Seq[Byte]] = {
      val root = java.nio.file.Paths.get(dir, s"v=$v")
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString ->
          Files.readAllBytes(p).toSeq).toMap
      finally s.close()
    }
    val before = treeBytes(v1)
    val rv = BucketedTable.evolveRenameColumn(dir, "v", "val")
    // METADATA-ONLY: the rename version holds nothing but its manifest and
    // every pre-rename data file is byte-identical on disk
    val rvFiles = {
      val s = Files.list(java.nio.file.Paths.get(dir, s"v=$rv"))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
    assert(rvFiles === Seq("_MANIFEST"))
    assert(treeBytes(v1) === before, "rename must not rewrite data")
    // LOSSLESS: old data reads under the NEW name with its stored values
    val cur = BucketedTable.readCurrent(spark, dir)
    assert(cur.columns.toSeq === Seq("k", "val"), s"got ${cur.columns.toSeq}")
    assert(cur.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("val")))
      .sorted.toSeq === Seq(kA -> "a1", kB -> "b1").sorted)
    // a post-rename commit carries the new name; mixed-era read stitches
    val df2 = Seq((kA, "a2")).toDF("k", "val")
      .withColumn(BucketedTable.BucketCol, BucketedTable.bucketExpr(Seq("k"), nB))
    BucketedTable.commit(dir, nB, Seq(bucketOf(kA)),
      d => df2.write.mode("overwrite")
        .partitionBy(BucketedTable.BucketCol).parquet(d))
    assert(BucketedTable.readCurrent(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("val"))).sorted.toSeq ===
      Seq(kA -> "a2", kB -> "b1").sorted)
    assert(treeBytes(v1) === before)
    // CHAIN: val -> txt; three eras on disk (v, val, txt) all read as txt
    BucketedTable.evolveRenameColumn(dir, "val", "txt")
    val df3 = Seq((kB, "b3")).toDF("k", "txt")
      .withColumn(BucketedTable.BucketCol, BucketedTable.bucketExpr(Seq("k"), nB))
    BucketedTable.commit(dir, nB, Seq(bucketOf(kB)),
      d => df3.write.mode("overwrite")
        .partitionBy(BucketedTable.BucketCol).parquet(d))
    val chained = BucketedTable.readCurrent(spark, dir)
    assert(chained.columns.toSeq === Seq("k", "txt"))
    assert(chained.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("txt")))
      .sorted.toSeq === Seq(kA -> "a2", kB -> "b3").sorted)
    // the keyed-slice read aliases too (the sink fold path)
    val slice = BucketedTable.readBuckets(spark, dir, Seq(bucketOf(kA)),
      empty = Seq.empty[(Long, String)].toDF("k", "txt"))
    assert(slice.columns.contains("txt") &&
      slice.collect().map(_.getAs[String]("txt")).toSeq === Seq("a2"))
    // rebucket MATERIALIZES: declarations drop, stored names become current
    BucketedTable.rebucket(spark, dir, Seq("k"), nB)
    val m = BucketedTable.readManifest(dir)
    assert(m.renames.isEmpty, "a full rewrite must materialize and drop renames")
    assert(BucketedTable.readCurrent(spark, dir).columns.toSeq === Seq("k", "txt"))
  }

  test("rename interplay: renamed ADD fills under the new name; drop-after-rename catches pre-rename eras; guards hold") {
    val dir = Files.createTempDirectory("graft_bt_ren2").resolve("t").toString
    val kA = 1L
    val kB = (2L to 100L).find(bucketOf(_) != bucketOf(kA)).get
    commitRows(dir, Seq(kA -> "a1")) // era 1: no score column at all
    BucketedTable.evolveAddColumn(spark, dir, "score", "int", "7")
    val df2 = Seq((kB, "b1", 42)).toDF("k", "v", "score")
      .withColumn(BucketedTable.BucketCol, BucketedTable.bucketExpr(Seq("k"), nB))
    BucketedTable.commit(dir, nB, Seq(bucketOf(kB)),
      d => df2.write.mode("overwrite")
        .partitionBy(BucketedTable.BucketCol).parquet(d)) // era 2: stores score
    BucketedTable.evolveRenameColumn(dir, "score", "points")
    // era 1 (predates the ADD) must default-fill under the RENAMED name;
    // era 2 (stores "score") must alias to "points"
    val rows = BucketedTable.readCurrent(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Int]("points"))).sorted.toSeq
    assert(rows === Seq(kA -> 7, kB -> 42).sorted,
      "fill lands under the current name; stored values alias through the rename")
    // drop by the CURRENT name removes all eras (incl. pre-rename bytes)
    BucketedTable.evolveDropColumn(dir, "points")
    assert(BucketedTable.readCurrent(spark, dir).columns.toSeq === Seq("k", "v"))
    // guards: dropping by the OLD name is a caller error named as such
    val oldName = intercept[IllegalArgumentException] {
      BucketedTable.evolveDropColumn(dir, "score")
    }
    assert(oldName.getMessage.contains("CURRENT name"))
    // renaming onto an in-force-dropped name would resurface dropped bytes
    val ontoDropped = intercept[IllegalArgumentException] {
      BucketedTable.evolveRenameColumn(dir, "v", "points")
    }
    assert(ontoDropped.getMessage.contains("dropped name"))
    // renaming a dropped column is refused too
    intercept[IllegalArgumentException] {
      BucketedTable.evolveRenameColumn(dir, "points", "elsewhere")
    }
  }

  test("rename collision guards: add-fill clobber, stale source, occupied target (r16 review)") {
    val dir = Files.createTempDirectory("graft_bt_ren3").resolve("t").toString
    commitRows(dir, Seq(1L -> "a"))
    BucketedTable.evolveAddColumn(spark, dir, "score", "int", "7")
    // renaming another column ONTO the add's name: scanEvolved's
    // default-fill withColumn would REPLACE the just-aliased real data on
    // pre-add eras — must be refused at declaration, not corrupt at read
    val clobber = intercept[IllegalArgumentException] {
      BucketedTable.evolveRenameColumn(dir, "v", "score")
    }
    assert(clobber.getMessage.contains("ADDED column"))
    // ... and the add's name may itself be renamed; the vacated name then
    // becomes usable again while the STALE source is refused
    BucketedTable.evolveRenameColumn(dir, "v", "txt")
    val stale = intercept[IllegalArgumentException] {
      BucketedTable.evolveRenameColumn(dir, "v", "w")
    }
    assert(stale.getMessage.contains("already renamed"))
    // renaming onto a live rename TARGET collides two live columns
    val occupied = intercept[IllegalArgumentException] {
      BucketedTable.evolveRenameColumn(dir, "score", "txt")
    }
    assert(occupied.getMessage.contains("current name of a renamed column"))
    // adding a column under a live rename target is the same collision
    val addCollide = intercept[IllegalArgumentException] {
      BucketedTable.evolveAddColumn(spark, dir, "txt", "string", "'x'")
    }
    assert(addCollide.getMessage.contains("current name of a renamed column"))
    // dropping an added-then-renamed column retires the ADD declaration by
    // its current name
    BucketedTable.evolveRenameColumn(dir, "score", "pts")
    BucketedTable.evolveDropColumn(dir, "pts")
    val m = BucketedTable.readManifest(dir)
    assert(m.evolutions.isEmpty, "the renamed add must retire with the drop")
    assert(BucketedTable.readCurrent(spark, dir).columns.toSeq === Seq("k", "txt"))
  }

  test("time travel: an old manifest version reads the table as of that commit") {
    val dir = Files.createTempDirectory("graft_bt_tt").resolve("t").toString
    val v1 = commitRows(dir, Seq(1L -> "x1", 2L -> "y1"))
    commitRows(dir, Seq(1L -> "x2"))
    val asOfV1 = BucketedTable.readCurrent(spark, dir, Some(v1))
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).sorted.toSeq
    assert(asOfV1 === Seq(1L -> "x1", 2L -> "y1").sorted,
      "the old manifest must reproduce the table as of its commit")
  }

  test("vacuum: drops only versions the current manifest no longer references, never newer claims") {
    val dir = Files.createTempDirectory("graft_bt_vac").resolve("t").toString
    val kA = 1L
    val kB = (2L to 100L).find(bucketOf(_) != bucketOf(kA)).get
    commitRows(dir, Seq(kA -> "a1", kB -> "b1"))
    commitRows(dir, Seq(kA -> "a2")) // v1 still holds kB's bucket
    assert(BucketedTable.vacuum(dir) === 0,
      "v1 is still referenced through kB's bucket and must survive")
    val v3 = commitRows(dir, Seq(kA -> "a3", kB -> "b3")) // v1, v2 now unreferenced
    // a newer claimed-but-uncommitted version dir must survive vacuum
    val claimed = java.nio.file.Paths.get(dir, s"v=${v3 + 1}")
    Files.createDirectory(claimed)
    assert(BucketedTable.vacuum(dir) === 2, "exactly v1 and v2 are reclaimable")
    assert(Files.exists(claimed), "an in-flight newer claim must survive vacuum")
    val cur = BucketedTable.readCurrent(spark, dir)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).sorted.toSeq
    assert(cur === Seq(kA -> "a3", kB -> "b3").sorted)
    Files.delete(claimed)
  }

  test("rebucket: re-hashes the snapshot onto a new bucket count, compacts the manifest, frees old versions") {
    val dir = Files.createTempDirectory("graft_bt_rb").resolve("t").toString
    val nNew = nB * 2
    def bucketOfNew(k: Long): Int = Seq(k).toDF("k")
      .select(BucketedTable.bucketExpr(Seq("k"), nNew)).head().getInt(0)
    val kA = 1L
    // distinct buckets under BOTH hashes, so the final partial commit on
    // kA's new bucket cannot touch kB's rows
    val kB = (2L to 200L).find(k =>
      bucketOf(k) != bucketOf(kA) && bucketOfNew(k) != bucketOfNew(kA)).get
    commitRows(dir, Seq(kA -> "a1", kB -> "b1"))
    commitRows(dir, Seq(kA -> "a2")) // rows now span two versions
    val before = BucketedTable.readCurrent(spark, dir)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).sorted.toSeq

    val rv = BucketedTable.rebucket(spark, dir, Seq("k"), nNew)
    val m = BucketedTable.readManifest(dir)
    assert(m.nBuckets === nNew, "the manifest must carry the new bucket count")
    assert(m.buckets.values.toSet === Set(rv),
      "after a rebucket every bucket lives in the fresh version")
    val after = BucketedTable.readCurrent(spark, dir)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).sorted.toSeq
    assert(after === before, "rebucket must not change the row set")
    // keyed-slice reads resolve through the NEW hash
    val slice = BucketedTable.readBuckets(spark, dir, Seq(bucketOfNew(kA)),
      empty = Seq.empty[(Long, String)].toDF("k", "v"))
    assert(slice.collect().map(_.getAs[Long]("k")).contains(kA))
    // all pre-rebucket versions are reclaimable; the table still reads
    assert(BucketedTable.vacuum(dir) === 2)
    assert(BucketedTable.readCurrent(spark, dir).count() === before.length)
    // later commits must agree with the NEW count, not the old one
    intercept[IllegalArgumentException] {
      BucketedTable.commit(dir, nB, Seq(0), _ => ())
    }
    val df = Seq(kA -> "a3").toDF("k", "v")
      .withColumn(BucketedTable.BucketCol, BucketedTable.bucketExpr(Seq("k"), nNew))
    BucketedTable.commit(dir, nNew, Seq(bucketOfNew(kA)),
      d => df.write.mode("overwrite").partitionBy(BucketedTable.BucketCol).parquet(d))
    assert(BucketedTable.readCurrent(spark, dir)
      .filter(col("k") === kA).collect().map(_.getAs[String]("v")).toSeq === Seq("a3"))
  }

  test("property: any sequence of bucketed upsert batches equals latest-per-key of the concatenation") {
    // the sink fold's defining algebraic property, over seeded random batch
    // sequences: folding batch-by-batch through the partial bucket commits
    // must equal one latest-per-key reduction over all rows at once
    for (seed <- Seq(11, 42, 77)) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft_bt_prop$seed").resolve("t").toString
      val nBatches = 4
      var all = Seq.empty[(Long, Long, String)] // (key, seq, payload)
      var nextSeq = 0L
      (1 to nBatches).foreach { _ =>
        val batch = (1 to (5 + rnd.nextInt(20))).map { _ =>
          nextSeq += 1
          (rnd.nextInt(12).toLong, nextSeq, s"p$nextSeq")
        }
        all = all ++ batch
        graft.stream.Streams.upsertBatch(
          batch.toDF("k", "seq", "payload"), dir,
          keyCols = Seq("k"), seqCol = "seq", nBuckets = nB)
      }
      val got = BucketedTable.readCurrent(spark, dir)
        .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("seq"),
          r.getAs[String]("payload"))).sorted.toSeq
      val expected = all.groupBy(_._1).values.map(_.maxBy(_._2)).toSeq.sorted
      assert(got === expected, s"seed $seed: fold diverged from the reference")
    }
  }

  test("property: bucketed Type-2 folds equal the plain sequential folds on random CDC sequences") {
    // the bucketed sink only ever folds the touched buckets' history slice;
    // over seeded random CDC batch sequences (unique seq, per-key strictly
    // increasing eff — the documented eff-grain contract) the final bucketed
    // history must equal folding the same batches through scd2FoldBatch on
    // one un-bucketed frame
    import java.sql.Timestamp
    for (seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft_bt_scd2p$seed").resolve("t").toString
      var nextSeq = 0L
      val perKeyEff = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      def ts(n: Long) = new Timestamp(n * 86400000L)
      def mkBatch(): Seq[(Long, Long, String, Timestamp, String)] =
        (1 to (3 + rnd.nextInt(8))).map { _ =>
          val k = rnd.nextInt(6).toLong
          // strictly increasing eff per key — the documented eff-grain
          // contract (one change per key per effective timestamp)
          perKeyEff(k) += 1 + rnd.nextInt(3)
          nextSeq += 1
          val flag =
            if (perKeyEff(k) <= 1) "I"
            else if (rnd.nextInt(10) == 0) "D" else "U"
          (nextSeq, k, s"attr${rnd.nextInt(100)}", ts(perKeyEff(k)), flag)
        }
      val batches = (1 to 4).map(_ => mkBatch())
      // reference: plain sequential folds on an un-bucketed frame
      var ref = batches.head.toDF("seq", "k", "attr", "eff", "flag")
        .drop("seq", "flag")
        .withColumn("end", col("eff")).withColumn("is_current", lit(true))
        .limit(0)
      batches.foreach { b =>
        ref = graft.stream.Streams.scd2FoldBatch(
          ref, b.toDF("seq", "k", "attr", "eff", "flag"),
          Seq("k"), "seq", "flag", "eff").localCheckpoint(true)
      }
      // bucketed: the sink fold, batch by batch
      batches.foreach { b =>
        graft.stream.Streams.scd2ApplyBatch(
          b.toDF("seq", "k", "attr", "eff", "flag"), dir,
          Seq("k"), "seq", "flag", "eff", nB)
      }
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("attr"),
          r.getAs[Timestamp]("eff").toString,
          Option(r.getAs[Timestamp]("end")).map(_.toString),
          r.getAs[Boolean]("is_current"))).sorted.toSeq
      assert(canon(BucketedTable.readCurrent(spark, dir)) === canon(ref),
        s"seed $seed: bucketed Type-2 fold diverged from the plain fold")
    }
  }

  test("commit validation: bucket count is fixed at creation; empty touched set is rejected") {
    val dir = Files.createTempDirectory("graft_bt_req").resolve("t").toString
    commitRows(dir, Seq(1L -> "a"))
    intercept[IllegalArgumentException] {
      BucketedTable.commit(dir, nB * 2, Seq(0), _ => ())
    }
    intercept[IllegalArgumentException] {
      BucketedTable.commit(dir, nB, Seq.empty, _ => ())
    }
    intercept[IllegalArgumentException] {
      BucketedTable.commit(dir, nB, Seq(nB), _ => ()) // out of range
    }
  }

  test("writer race: two interleaved committers — one succeeds, one raises, no bucket loss") {
    val dir = Files.createTempDirectory("graft_bt_race").resolve("t").toString
    val kA = 1L
    val kB = (2L to 100L).find(bucketOf(_) != bucketOf(kA)).get
    commitRows(dir, Seq(kA -> "a1", kB -> "b1"))
    // Writer B starts its commit (reads the current manifest, claims a
    // version); writer A's FULL commit lands inside B's write callback —
    // i.e. between B's fold and B's publish, the classic lost-update
    // interleave. B's pre-publish parent check must raise; A's commit and
    // the prior data must survive untouched.
    val dfB = withBucket(Seq(kA -> "a-from-B"))
    val raised = intercept[java.util.ConcurrentModificationException] {
      BucketedTable.commit(dir, nB, Seq(bucketOf(kA)), { d =>
        dfB.write.mode("overwrite")
          .partitionBy(BucketedTable.BucketCol).parquet(d)
        commitRows(dir, Seq(kB -> "b-from-A")) // the racer wins
      })
    }
    assert(raised.getMessage.contains("concurrent writer"))
    val cur = BucketedTable.readCurrent(spark, dir)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).sorted.toSeq
    assert(cur === Seq(kA -> "a1", kB -> "b-from-A").sorted,
      "the racing commit and all prior buckets must survive; the loser's " +
        s"fold must not publish — got $cur")
    // the loser's orphaned version dir is reclaimable garbage
    BucketedTable.vacuum(dir)
    assert(BucketedTable.readCurrent(spark, dir)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).sorted.toSeq === cur)
  }

  test("writer lease: an unexpired lease blocks a second writer; release frees it; an expired lease is stolen with a bumped epoch") {
    val dir = Files.createTempDirectory("graft_bt_lease").resolve("t").toString
    val a = BucketedTable.acquireWriterLease(dir, "host-a")
    val blocked = intercept[java.util.ConcurrentModificationException] {
      BucketedTable.acquireWriterLease(dir, "host-b")
    }
    assert(blocked.getMessage.contains("lease held by 'host-a'"))
    // the HOLDER re-acquiring is a renewal, not a conflict
    val a2 = BucketedTable.acquireWriterLease(dir, "host-a")
    assert(a2.epoch === a.epoch + 1)
    BucketedTable.releaseWriterLease(a2)
    val b = BucketedTable.acquireWriterLease(dir, "host-b")
    assert(b.epoch === a2.epoch + 1, "epochs are monotone across owners")
    // expiry: a zero-TTL lease is immediately stealable by another host
    BucketedTable.releaseWriterLease(b)
    val c = BucketedTable.acquireWriterLease(dir, "host-c", ttlMillis = 0L)
    val d = BucketedTable.acquireWriterLease(dir, "host-d")
    assert(d.epoch === c.epoch + 1)
    // a release attempted with the STOLEN (stale) lease must not un-fence
    // the live owner
    BucketedTable.releaseWriterLease(c)
    val still = intercept[java.util.ConcurrentModificationException] {
      BucketedTable.acquireWriterLease(dir, "host-e")
    }
    assert(still.getMessage.contains("lease held by 'host-d'"))
  }

  test("writer lease fencing: two interleaved writers — the second publish holding the stale epoch is fenced, the new owner's state intact") {
    val dir = Files.createTempDirectory("graft_bt_fence").resolve("t").toString
    val kA = 1L
    val kB = (2L to 100L).find(bucketOf(_) != bucketOf(kA)).get
    commitRows(dir, Seq(kA -> "a1", kB -> "b1"))
    // Writer A holds a lease that immediately expires (e.g. a long GC
    // pause past the TTL); writer B legitimately steals it and commits.
    // A's later commit passes the PARENT check (it folds against B's
    // published state — on a no-advisory-lock shared store nothing else
    // stops it) but must be FENCED by the moved lease epoch.
    val staleA = BucketedTable.acquireWriterLease(dir, "host-a", ttlMillis = 0L)
    val liveB = BucketedTable.acquireWriterLease(dir, "host-b")
    val dfB = withBucket(Seq(kB -> "b-from-B"))
    BucketedTable.commit(dir, nB, Seq(bucketOf(kB)),
      d => dfB.write.mode("overwrite")
        .partitionBy(BucketedTable.BucketCol).parquet(d),
      lease = Some(liveB))
    val dfA = withBucket(Seq(kA -> "a-from-stale-A"))
    val fenced = intercept[java.util.ConcurrentModificationException] {
      BucketedTable.commit(dir, nB, Seq(bucketOf(kA)),
        d => dfA.write.mode("overwrite")
          .partitionBy(BucketedTable.BucketCol).parquet(d),
        lease = Some(staleA))
    }
    assert(fenced.getMessage.contains("fenced"))
    assert(fenced.getMessage.contains("host-b"),
      "the fence names the writer that took over")
    val cur = BucketedTable.readCurrent(spark, dir)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).sorted.toSeq
    assert(cur === Seq(kA -> "a1", kB -> "b-from-B").sorted,
      s"the new owner's commit and all prior buckets survive — got $cur")
    // the fenced writer's orphan version dir is reclaimable garbage
    BucketedTable.vacuum(dir)
    assert(BucketedTable.readCurrent(spark, dir)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).sorted.toSeq === cur)
  }

  test("writer race, two REAL threads: the commit lock serializes publish — exactly one wins, one raises, state consistent") {
    import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val dir = Files.createTempDirectory("graft_bt_race2").resolve("t").toString
    val kA = 1L
    val kB = (2L to 100L).find(bucketOf(_) != bucketOf(kA)).get
    commitRows(dir, Seq(kA -> "a1", kB -> "b1"))
    // both writers must FOLD against the same parent before either
    // publishes — the barrier inside the write callback guarantees the
    // overlap (without it one could finish first and the other would
    // legitimately chain on top: two successes, no race)
    val bothFolded = new CyclicBarrier(2)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def attempt(key: Long, value: String) = Future {
      val df = withBucket(Seq(key -> value))
      try Right(BucketedTable.commit(dir, nB, Seq(bucketOf(key)), { d =>
        df.write.mode("overwrite")
          .partitionBy(BucketedTable.BucketCol).parquet(d)
        bothFolded.await(60, TimeUnit.SECONDS): Unit
      }))
      catch { case e: java.util.ConcurrentModificationException => Left(e) }
    }
    val results = Await.result(
      Future.sequence(Seq(attempt(kA, "a2"), attempt(kB, "b2"))),
      Duration(180, "s"))
    pool.shutdown()
    val wins = results.collect { case Right(v) => v }
    val losses = results.collect { case Left(e) => e }
    assert(wins.size === 1 && losses.size === 1,
      s"exactly one overlapped commit must publish, got $results")
    assert(losses.head.getMessage.contains("concurrent writer"))
    val cur = BucketedTable.readCurrent(spark, dir)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toMap
    // the winner's key carries its new value; the loser's key keeps the
    // PRIOR value (its fold never published) — never a dropped bucket
    val expected =
      if (cur(kA) == "a2") Map(kA -> "a2", kB -> "b1")
      else Map(kA -> "a1", kB -> "b2")
    assert(cur === expected, s"state must be exactly the winner's commit over the prior snapshot, got $cur")
  }

  test("widen-column evolution: metadata-only, mixed-era reads cast pre-widen data up, rebucket materializes (r17 judge #2)") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_bt_wid").resolve("t").toString
    val kA = 1L
    val kB = (2L to 100L).find(bucketOf(_) != bucketOf(kA)).get
    def commitTyped(rows: org.apache.spark.sql.DataFrame, keys: Seq[Long]): Long =
      BucketedTable.commit(dir, nB, keys.map(bucketOf).distinct,
        d => rows
          .withColumn(BucketedTable.BucketCol, BucketedTable.bucketExpr(Seq("k"), nB))
          .write.mode("overwrite").partitionBy(BucketedTable.BucketCol).parquet(d))
    // era 1: n is INT
    val v1 = commitTyped(
      Seq((kA, 7), (kB, 2000000000)).toDF("k", "n"), Seq(kA, kB))
    def treeBytes(v: Long): Map[String, Seq[Byte]] = {
      val root = java.nio.file.Paths.get(dir, s"v=$v")
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
      finally s.close()
    }
    val before = treeBytes(v1)
    val wv = BucketedTable.evolveWidenColumn(spark, dir, "n", "bigint")
    // METADATA-ONLY: widen version holds only its manifest; era-1 bytes intact
    val wvFiles = {
      val s = Files.list(java.nio.file.Paths.get(dir, s"v=$wv"))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
    assert(wvFiles === Seq("_MANIFEST"))
    assert(treeBytes(v1) === before, "widen must not rewrite data")
    // pre-widen data reads AT the widened type with exact values
    val afterW = BucketedTable.readCurrent(spark, dir)
    assert(afterW.schema("n").dataType === LongType,
      s"got ${afterW.schema("n").dataType}")
    assert(afterW.collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("n")))
      .sorted.toSeq === Seq(kA -> 7L, kB -> 2000000000L).sorted)
    // era 2: post-widen commit carries a value that never fit in int
    commitTyped(Seq((kA, 9000000000L)).toDF("k", "n"), Seq(kA))
    val mixed = BucketedTable.readCurrent(spark, dir)
    assert(mixed.schema("n").dataType === LongType)
    assert(mixed.collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("n")))
      .sorted.toSeq === Seq(kA -> 9000000000L, kB -> 2000000000L).sorted)
    assert(treeBytes(v1) === before, "pre-widen era stays byte-identical")
    // the keyed-slice read (sink fold path) casts too
    val slice = BucketedTable.readBuckets(spark, dir, Seq(bucketOf(kB)),
      empty = Seq.empty[(Long, Long)].toDF("k", "n"))
    assert(slice.schema("n").dataType === LongType &&
      slice.collect().map(_.getAs[Long]("n")).toSeq === Seq(2000000000L))
    // guards: shrink, unknown column, dropped column, unparsable target
    assertThrows[IllegalArgumentException] {
      BucketedTable.evolveWidenColumn(spark, dir, "n", "int") }
    assertThrows[IllegalArgumentException] {
      BucketedTable.evolveWidenColumn(spark, dir, "nope", "bigint") }
    assertThrows[IllegalArgumentException] {
      BucketedTable.evolveWidenColumn(spark, dir, "n", "not a type") }
    // rebucket MATERIALIZES: declarations drop; data stores the wide type
    BucketedTable.rebucket(spark, dir, Seq("k"), nB)
    val m = BucketedTable.readManifest(dir)
    assert(m.widens.isEmpty, "a full rewrite must materialize and drop widens")
    val mat = BucketedTable.readCurrent(spark, dir)
    assert(mat.schema("n").dataType === LongType)
    assert(mat.collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("n")))
      .sorted.toSeq === Seq(kA -> 9000000000L, kB -> 2000000000L).sorted)
  }

  test("widen interplay: decimal growth chains, float→double, widen-after-rename, rename-after-widen, drop retires widens") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_bt_wid2").resolve("t").toString
    val kA = 1L
    val kB = (2L to 100L).find(bucketOf(_) != bucketOf(kA)).get
    def commitDf(rows: org.apache.spark.sql.DataFrame, keys: Seq[Long]): Long =
      BucketedTable.commit(dir, nB, keys.map(bucketOf).distinct,
        d => rows
          .withColumn(BucketedTable.BucketCol, BucketedTable.bucketExpr(Seq("k"), nB))
          .write.mode("overwrite").partitionBy(BucketedTable.BucketCol).parquet(d))
    // era 1: d decimal(5,2), f float
    commitDf(Seq((kA, "123.45", 1.5f), (kB, "999.99", 2.5f)).toDF("k", "d", "f")
      .select(col("k"), col("d").cast("decimal(5,2)").as("d"), col("f")),
      Seq(kA, kB))
    // CHAIN: decimal(5,2) → (9,2) → (12,4); each era casts to the LATEST
    BucketedTable.evolveWidenColumn(spark, dir, "d", "decimal(9,2)")
    commitDf(Seq((kA, "1234567.89")).toDF("k", "d")
      .select(col("k"), col("d").cast("decimal(9,2)").as("d"),
        lit(3.5f).as("f")), Seq(kA))
    BucketedTable.evolveWidenColumn(spark, dir, "d", "decimal(12,4)")
    val chained = BucketedTable.readCurrent(spark, dir)
    assert(chained.schema("d").dataType === DecimalType(12, 4))
    assert(chained.select("k", "d").collect()
      .map(r => (r.getLong(0), r.getDecimal(1).toPlainString)).sorted.toSeq ===
      Seq(kA -> "1234567.8900", kB -> "999.9900").sorted)
    // scale shrink is refused even when precision grows
    assertThrows[IllegalArgumentException] {
      BucketedTable.evolveWidenColumn(spark, dir, "d", "decimal(20,2)") }
    // float → double
    BucketedTable.evolveWidenColumn(spark, dir, "f", "double")
    val fw = BucketedTable.readCurrent(spark, dir)
    assert(fw.schema("f").dataType === DoubleType)
    assert(fw.select("k", "f").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq ===
      Seq(kA -> 3.5d, kB -> 2.5d).sorted)
    // RENAME-AFTER-WIDEN: old eras alias AND cast; widen resolves the chain
    BucketedTable.evolveRenameColumn(dir, "d", "amount")
    val renamed = BucketedTable.readCurrent(spark, dir)
    assert(renamed.schema("amount").dataType === DecimalType(12, 4))
    // WIDEN-AFTER-RENAME by current name; the stale name is refused
    assertThrows[IllegalArgumentException] {
      BucketedTable.evolveWidenColumn(spark, dir, "d", "decimal(14,4)") }
    BucketedTable.evolveWidenColumn(spark, dir, "amount", "decimal(14,4)")
    assert(BucketedTable.readCurrent(spark, dir)
      .schema("amount").dataType === DecimalType(14, 4))
    // DROP retires the widen declarations with the column
    BucketedTable.evolveDropColumn(dir, "amount")
    val m = BucketedTable.readManifest(dir)
    assert(!m.widens.exists(w => w.name == "d" || w.name == "amount"),
      s"drop must retire the dropped column's widens, got ${m.widens}")
    assert(!BucketedTable.readCurrent(spark, dir).columns.contains("amount"))
  }

  test("unwidenable read fails loudly; guards are liveness-aware for re-occupied rename sources (r17, ADVICE r16)") {
    val dir = Files.createTempDirectory("graft_bt_wid3").resolve("t").toString
    val kA = 1L
    commitRows(dir, Seq(kA -> "a1"))
    // hand-mangle: declare v (a string column) widened to bigint — the
    // declaration-time validation would refuse this, so forge the manifest
    // the way a foreign writer or corruption would
    val cur = BucketedTable.currentVersion(dir)
    val mPath = s"$dir/v=$cur/_MANIFEST"
    val fs = graft.GraftFs.default
    fs.writeString(mPath,
      fs.readString(mPath) + s"\newiden=${cur + 1}\tv\tbigint")
    val err = intercept[IllegalStateException] {
      BucketedTable.readCurrent(spark, dir).collect() }
    assert(err.getMessage.contains("unwidenable read") &&
      err.getMessage.contains("'v'"),
      s"must name the column and the hazard, got: ${err.getMessage}")
    // Doctor flags the same state offline (no Spark read needed)
    val findings = Doctor.diagnose(
      java.nio.file.Paths.get(dir).getParent.toString)
    assert(findings.exists(f => f.level == "FAIL" &&
      f.problem.contains("unwidenable read")),
      s"Doctor must flag the unwidenable widen, got $findings")

    // liveness-aware guards: rename k2's column away, re-add the vacated
    // name, then rename AND (separately) drop the re-added column — both
    // were spuriously refused before r17
    val dir2 = Files.createTempDirectory("graft_bt_wid4").resolve("t").toString
    commitRows(dir2, Seq(kA -> "a1"))
    BucketedTable.evolveRenameColumn(dir2, "v", "w")
    BucketedTable.evolveAddColumn(spark, dir2, "v", "string", "'fresh'")
    // the re-added v is LIVE: renaming it must work...
    BucketedTable.evolveRenameColumn(dir2, "v", "z")
    val after = BucketedTable.readCurrent(spark, dir2)
    assert(after.columns.sorted.toSeq === Seq("k", "w", "z"))
    assert(after.select("w", "z").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq === Seq("a1" -> "fresh"))
    // ...and so must dropping a re-added vacated-source name
    val dir3 = Files.createTempDirectory("graft_bt_wid5").resolve("t").toString
    commitRows(dir3, Seq(kA -> "a1"))
    BucketedTable.evolveRenameColumn(dir3, "v", "w")
    BucketedTable.evolveAddColumn(spark, dir3, "v", "string", "'fresh'")
    BucketedTable.evolveDropColumn(dir3, "v")
    val after3 = BucketedTable.readCurrent(spark, dir3)
    assert(after3.columns.sorted.toSeq === Seq("k", "w"))
    // a name still renamed away (never re-occupied) stays refused
    val dir4 = Files.createTempDirectory("graft_bt_wid6").resolve("t").toString
    commitRows(dir4, Seq(kA -> "a1"))
    BucketedTable.evolveRenameColumn(dir4, "v", "w")
    assertThrows[IllegalArgumentException] {
      BucketedTable.evolveRenameColumn(dir4, "v", "z") }
    assertThrows[IllegalArgumentException] {
      BucketedTable.evolveDropColumn(dir4, "v") }
  }
}
