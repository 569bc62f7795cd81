package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{AnnIndex, Compaction}

/** Contract of [[AnnIndex.retrainIvf]]: drift accumulated by the
  * frozen-centroid appends is answered by a full re-cluster published as an
  * ATOMIC (centroids, lists) generation — readers resolve one snapshot and
  * can never pair new centroids with old assignments; a crash mid-retrain
  * leaves the old composite current; layout compaction carries the embedded
  * centroid sidecar. */
class IvfRetrainSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** Deterministic clustered vectors: members of cluster `axis` point along
    * basis axis `axis` (dim 8) with a small per-id perturbation. */
  private def clusterRows(axis: Int, ids: Range): Seq[(Long, Int, Array[Float])] =
    ids.map { i =>
      val v = Array.fill(8)(0.02f * (((i * 31 + axis * 7) % 11) - 5))
      v(axis) = 1f
      (i.toLong, axis, v)
    }

  /** Assert every data file of the lists generation at `root` sits at
    * a `list_id=✶/batch_id=✶` cell (sidecar dirs and hidden files aside), and
    * return the batch keys present. */
  private def batchLayoutKeys(root: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val r = Paths.get(root)
    val files = Files.walk(r).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => r.relativize(p).iterator().asScala.map(_.toString).toSeq)
      .filterNot(_.exists(n => n.startsWith("_") || n.startsWith(".")))
      .toSeq
    assert(files.nonEmpty, s"$root holds no data files")
    files.foreach(f => assert(f.length == 3 && f(0).startsWith("list_id=") &&
      f(1).startsWith("batch_id="),
      s"$root holds ${f.mkString("/")} outside list_id=*/batch_id=*"))
    files.map(_(1).stripPrefix("batch_id=")).toSet
  }

  test("the IVF fit is repeatable: the same rows fit the same centroids in any input layout") {
    // the in-stream retrain test's 20 vectors: id % 4 picks the axis. The
    // seeded k-means|| init samples by partition and row order, so the fit
    // must not see the order its rows arrive in (files, scan partitions)
    def emb(id: Long): Array[Float] = {
      val v = Array.fill(8)(0.02f * (((id * 31 + 5) % 11) - 5).toInt)
      v((id % 4).toInt) = 1f
      v
    }
    val rows = (0L until 20L).map(i => (i, (i % 4).toInt, emb(i)))
    def centroids(order: Seq[(Long, Int, Array[Float])], parts: Int) = {
      val ivf = Files.createTempDirectory("graft_ivf_layout").toString
      AnnIndex.build(spark.sparkContext.parallelize(order, parts)
        .toDF("vec_id", "label", "embedding"), ivf, nlist = 4)
      spark.read.parquet(s"$ivf/centroids").collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
    }
    val inOrder = centroids(rows, 1)
    val layouts = Seq(
      "20 one-row partitions, reversed" -> centroids(rows.reverse, 20),
      "3 partitions, interleaved" -> centroids(rows.sortBy(r => (r._1 * 7) % 20), 3),
      "20 one-row partitions, by cluster" -> centroids(rows.sortBy(r => (r._2, r._1)), 20))
    layouts.foreach { case (layout, fit) =>
      assert(fit === inOrder, s"$layout fits other centroids than one in-order partition")
    }
  }

  test("retrainIvf re-clusters drifted appends into an atomically published composite") {
    val ivf = Files.createTempDirectory("graft_ivf_retrain").toString
    val base = (clusterRows(0, 0 until 30) ++ clusterRows(1, 30 until 60))
      .toDF("vec_id", "label", "embedding")
    AnnIndex.build(base, ivf, nlist = 2)
    // one layout from the first write: the build lands at the base level
    assert(batchLayoutKeys(s"$ivf/lists") === Set("-1"))
    // DRIFT: a third cluster the built centroids know nothing about — the
    // frozen-assignment append buries it in whichever existing list wins
    val drifted = clusterRows(2, 100 until 120).toDF("vec_id", "label", "embedding")
    AnnIndex.appendIvf(drifted, ivf, Some("q1-0"))
    assert(batchLayoutKeys(s"$ivf/lists") === Set("-1", "q1-0"))

    val ver = AnnIndex.retrainIvf(spark, ivf, nlist = 3)
    // (a) the publish is the composite: pointer flipped, centroids EMBEDDED
    // in the new generation (not the build-era flat table)
    assert(Compaction.currentVersion(s"$ivf/lists") === ver)
    val (root, cents) = AnnIndex.ivfSnapshot(spark, ivf)
    assert(root === s"$ivf/lists.v$ver")
    assert(Files.isDirectory(Paths.get(root, "_centroids")),
      "the retrained centroids must live inside the published generation")
    assert(cents.length === 3, "the retrain's nlist may differ from the build's")
    assert(batchLayoutKeys(root) === Set("-1"),
      "the retrain folds the committed batch into the base level")
    // (b) the row set is preserved exactly — one assignment per vector
    val assigned = spark.read.parquet(root)
      .select("vec_id", "list_id").collect()
      .map(r => (r.getLong(0), r.getAs[Int]("list_id")))
    assert(assigned.map(_._1).sorted.toSeq === ((0L until 60L) ++ (100L until 120L)),
      "retrain must keep every built + appended vector exactly once")
    // (c) the drifted cluster now owns a list: all 20 members share one
    // list id that no base vector shares (k-means on three orthogonal
    // clusters separates them)
    val driftLists = assigned.filter(_._1 >= 100L).map(_._2).distinct
    assert(driftLists.length === 1,
      s"drifted cluster must land in one retrained list, got $driftLists")
    assert(!assigned.filter(_._1 < 60L).map(_._2).contains(driftLists.head),
      "the drifted cluster's list must not be shared with the base clusters")
    // (d) a drifted probe at nprobe=1 through ONE snapshot recovers its
    // cluster — the recall the frozen-centroid index could only achieve by
    // luck, now by construction
    val probe = Array.tabulate(8)(i => if (i == 2) 1.0 else 0.0)
    val lists = AnnIndex.rankLists(cents, probe, nprobe = 1)
    val got = AnnIndex.probeScanAt(spark, root, lists)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (100L until 120L),
      s"nprobe=1 after retrain must fetch exactly the drifted cluster, got $got")
    // (e) layout compaction AFTER a retrain carries the embedded centroids
    // and changes nothing about the snapshot's answers
    AnnIndex.appendIvf(clusterRows(2, 200 until 205).toDF("vec_id", "label", "embedding"), ivf)
    val before = AnnIndex.probeScanAt(spark, root, lists)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    Compaction.compactBatchKeyed(spark, AnnIndex.listsTable(ivf))
    val (root2, cents2) = AnnIndex.ivfSnapshot(spark, ivf)
    assert(root2 !== root, "compaction publishes a fresh generation")
    assert(batchLayoutKeys(root2) === Set("-1"))
    assert(Files.isDirectory(Paths.get(root2, "_centroids")),
      "compaction must carry the centroid sidecar through the rewrite")
    assert(cents2.map(_._1).toSeq === cents.map(_._1).toSeq &&
      cents2.zip(cents).forall { case ((_, a), (_, b)) => a.sameElements(b) },
      "a layout rewrite must not change the model")
    val got2 = AnnIndex.probeScanAt(spark, root2,
        AnnIndex.rankLists(cents2, probe, nprobe = 1))
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got2 === ((100L until 120L) ++ (200L until 205L)),
      "the compacted snapshot must serve the retrained assignment plus the post-retrain append")
    assert(got2 === before, "compaction must not change the probe's answer")
  }

  test("retrainPq republishes codes + codebooks as one snapshot; appends encode against their own generation") {
    val dir = Files.createTempDirectory("graft_pq_retrain").toString
    val base = (clusterRows(0, 0 until 30) ++ clusterRows(1, 30 until 60))
      .toDF("vec_id", "label", "embedding")
    AnnIndex.buildPq(base, dir, m = 4, k = 4)
    AnnIndex.appendPq(clusterRows(1, 60 until 70).toDF("vec_id", "label", "embedding"), dir)
    val (root0, books0) = AnnIndex.pqSnapshot(spark, dir)
    assert(root0 === s"$dir/codes" && books0.length === 4 * 4,
      "build-era snapshot: flat generation + flat codebooks")
    // retrain on the grown corpus with a larger k
    val full = base.unionByName(
      clusterRows(1, 60 until 70).toDF("vec_id", "label", "embedding"))
    val ver = AnnIndex.retrainPq(full, dir, m = 4, k = 8)
    val (root1, books1) = AnnIndex.pqSnapshot(spark, dir)
    assert(root1 === s"$dir/codes.v$ver",
      "the retrain must publish a fresh pointer-committed generation")
    assert(Files.isDirectory(Paths.get(root1, "_codebooks")),
      "the retrained codebooks must live inside the published generation")
    assert(books1.length === 4 * 8, "the retrain's k may differ from the build's")
    val ids = spark.read.parquet(root1)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (0L until 70L), "every vector re-encoded exactly once")
    // a crashed NEXT retrain (future gen, no flip) must not change the pair
    Files.createDirectories(Paths.get(s"$dir/codes.v${ver + 1}").resolve("_codebooks"))
    val (rootC, booksC) = AnnIndex.pqSnapshot(spark, dir)
    assert(rootC === root1 && booksC.length === books1.length,
      "an unflipped retrain must leave the old (codes, books) pair current")
  }

  test("retrainIvfPq realigns the composite's codes with a retrained IVF assignment") {
    val ivf = Files.createTempDirectory("graft_ivfpq_retrain_ivf").toString
    val pq = Files.createTempDirectory("graft_ivfpq_retrain_pq").toString
    val base = (clusterRows(0, 0 until 30) ++ clusterRows(1, 30 until 60))
      .toDF("vec_id", "label", "embedding")
    AnnIndex.build(base, ivf, nlist = 2)
    AnnIndex.buildIvfPq(base, ivf, pq, m = 4, k = 4)
    // drift + IVF retrain: assignments change under the composite
    AnnIndex.appendIvf(clusterRows(2, 100 until 120).toDF("vec_id", "label", "embedding"), ivf)
    AnnIndex.retrainIvf(spark, ivf, nlist = 3)
    // the composite's re-encode pass mirrors the NEW assignments
    val ver = AnnIndex.retrainIvfPq(spark, ivf, pq, m = 4, k = 4)
    val (codesRoot, books) = AnnIndex.pqSnapshot(spark, pq)
    assert(codesRoot === s"$pq/codes.v$ver")
    assert(Files.isDirectory(Paths.get(codesRoot, "_codebooks")))
    assert(books.length === 4 * 4)
    // code rows carry exactly the retrained lists' assignment
    val (listsRoot, cents) = AnnIndex.ivfSnapshot(spark, ivf)
    val listAssign = spark.read.parquet(listsRoot)
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("list_id")).toMap
    val codeAssign = spark.read.parquet(codesRoot)
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("list_id")).toMap
    assert(codeAssign === listAssign,
      "every code row must sit under the same list as its retrained assignment")
    // a drifted probe pruned to ONE list through the refreshed composite
    // reads exactly the drifted cluster's codes
    val probe = Array.tabulate(8)(i => if (i == 2) 1.0 else 0.0)
    val lists = AnnIndex.rankLists(cents, probe, nprobe = 1)
    val got = AnnIndex.ivfPqScanAt(spark, codesRoot, lists)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (100L until 120L),
      s"the re-encoded composite must prune to the drifted cluster, got $got")
  }

  test("a batch-keyed append replayed across an intervening retrain stays exactly-once") {
    // IVF is the one index whose placement depends on mutable model state:
    // a replay re-assigns against the centroids current AT REPLAY TIME, so
    // after a retrain the same vector can land in a DIFFERENT list than the
    // original attempt — cell-wise dynamic overwrite (the LSH/SQ8 recipe)
    // would leave the original's cells behind. appendIvf's pre-write
    // cell-drop plus retrainIvf's preserveBatchKeys close exactly that.
    val ivf = Files.createTempDirectory("graft_ivf_replay").toString
    val base = (clusterRows(0, 0 until 30) ++ clusterRows(1, 30 until 60))
      .toDF("vec_id", "label", "embedding")
    AnnIndex.build(base, ivf, nlist = 2)
    // the in-flight batch: a third cluster, batch-keyed like a stream write
    val key = "lineage-7"
    val batch = clusterRows(2, 100 until 110).toDF("vec_id", "label", "embedding")
    AnnIndex.appendIvf(batch, ivf, Some(key))
    val preRoot = graft.etl.Compaction.currentPath(s"$ivf/lists")
    val preAssign = spark.read.parquet(preRoot)
      .filter(col("vec_id") >= 100L)
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("list_id")).toMap
    // maintenance fires mid-flight: nlist grows 2 -> 3, the drifted cluster
    // gets its own list — the batch's rows MOVE lists in the new generation
    AnnIndex.retrainIvf(spark, ivf, nlist = 3, preserveBatchKeys = Set(key))
    // crash-replay: same rows, same key, assignment now differs
    AnnIndex.appendIvf(batch, ivf, Some(key))
    val (root, cents) = AnnIndex.ivfSnapshot(spark, ivf)
    val rows = spark.read.parquet(root)
      .select(col("vec_id"), col("list_id"), col("batch_id").cast("string"))
      .collect().map(r => (r.getLong(0), r.getAs[Int]("list_id"), r.getString(2)))
    // (a) exactly-once: every vector appears once despite the moved assignment
    val counts = rows.groupBy(_._1).view.mapValues(_.length)
    assert(counts.values.forall(_ == 1),
      s"replay across a retrain must not duplicate: ${counts.filter(_._2 > 1).toMap}")
    assert(rows.map(_._1).sorted.toSeq === ((0L until 60L) ++ (100L until 110L)))
    // (b) the replayed rows live under their key; checkpointed history is base
    val byKey = rows.groupBy(_._3).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    assert(byKey(key) === (100L until 110L),
      s"the in-flight batch must stay addressable by its key, got $byKey")
    assert(byKey("-1") === (0L until 60L),
      "the retrain must fold checkpointed rows into the batch base")
    // (c) the replayed assignment matches the CURRENT model (the retrained
    // 3-way clustering isolates the drifted cluster), not the stale one
    val replayLists = rows.filter(_._1 >= 100L).map(_._2).distinct
    assert(replayLists.length === 1 &&
      !rows.filter(_._1 < 60L).map(_._2).contains(replayLists.head),
      "replayed rows must sit in the retrained cluster's own list")
    assert(cents.length === 3, "sanity: the retrain changed the model")
    assert(preAssign.nonEmpty, "sanity: the original attempt had landed")
    // (d) a probe through one snapshot sees the batch exactly once
    val probe = Array.tabulate(8)(i => if (i == 2) 1.0 else 0.0)
    val got = AnnIndex.probeScanAt(spark, root,
        AnnIndex.rankLists(cents, probe, nprobe = 1))
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (100L until 110L),
      s"pruned probe after replay must fetch the batch exactly once, got $got")
    // (e) sweep hygiene: every surviving batch_id=<key> cell holds data
    // (data-less dirs are pruned) and carries NO orphaned .crc sidecar —
    // the sweep deletes each stale file's checksum twin, or dead
    // checksums would accumulate forever under local committers
    import scala.jdk.CollectionConverters._
    val keyCells = {
      val s = Files.list(Paths.get(root))
      try s.iterator().asScala.toSeq
        .filter(d => d.getFileName.toString.startsWith("list_id="))
        .map(_.resolve(s"batch_id=$key")).filter(Files.isDirectory(_))
      finally s.close()
    }
    assert(keyCells.nonEmpty)
    keyCells.foreach { cell =>
      val s = Files.list(cell)
      val entries = try s.iterator().asScala
        .map(_.getFileName.toString).toSeq finally s.close()
      assert(entries.exists(n => !n.startsWith("_") && !n.startsWith(".")),
        s"a data-less cell survived the replay sweep: $cell")
      entries.filter(n => n.startsWith(".") && n.endsWith(".crc")).foreach {
        crc =>
          val data = crc.stripPrefix(".").stripSuffix(".crc")
          assert(entries.contains(data),
            s"orphaned checksum sidecar $crc survived the sweep in $cell")
      }
    }
  }

  test("a composite probe between the IVF retrain and the composite retrain serves the OLD consistent pair") {
    // the two retrains publish sequentially, so there is a window where
    // the lists pointer is a generation ahead of the codes. A probe that
    // resolved each table independently would rank NEW centroids and prune
    // OLD-clustering codes by those ids — semantically arbitrary membership.
    // ivfPqSnapshot anchors on the CODES generation and pairs the lists
    // generation recorded at its publish (`_lists_gen`), so the window
    // serves the old, mutually consistent state.
    val ivf = Files.createTempDirectory("graft_ivfpq_window_ivf").toString
    val pq = Files.createTempDirectory("graft_ivfpq_window_pq").toString
    val base = (clusterRows(0, 0 until 30) ++ clusterRows(1, 30 until 60))
      .toDF("vec_id", "label", "embedding")
    AnnIndex.build(base, ivf, nlist = 2)
    AnnIndex.buildIvfPq(base, ivf, pq, m = 4, k = 4)
    val probeVec = base.filter(col("vec_id") === 5L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    def answer() = graft.queries.LlmKnn.knnIvfPqProbe(spark, ivf, pq, base,
        probeVec, probeId = 5L, k = 5, nprobe = 1, oversample = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val before = answer()
    assert(before.nonEmpty && before.forall(_._1 < 30L),
      "sanity: the pre-window probe serves cluster 0")
    // the window: lists republish (2 -> 3 clusters), codes not yet
    AnnIndex.retrainIvf(spark, ivf, nlist = 3)
    val (lr, cents, _, _) = AnnIndex.ivfPqSnapshot(spark, ivf, pq)
    assert(lr === s"$ivf/lists" && cents.length === 2,
      s"mid-window pairing must resolve the codes' own generation, got $lr")
    assert(answer() === before,
      "a mid-window probe must serve the old consistent pair unchanged")
    // the composite catches up: the pairing advances with its publish
    AnnIndex.retrainIvfPq(spark, ivf, pq, m = 4, k = 4)
    val (lr2, cents2, _, _) = AnnIndex.ivfPqSnapshot(spark, ivf, pq)
    assert(lr2 === s"$ivf/lists.v1" && cents2.length === 3,
      s"post-publish pairing must advance to the retrained generation, got $lr2")
    val after = answer()
    assert(after.nonEmpty && after.forall(_._1 < 30L),
      "the advanced pairing still serves the probe's cluster")
  }

  test("a codes generation without its lists pairing fails the snapshot and Doctor, naming the remedy") {
    // every composite writer records `_lists_gen`; a generation without it
    // has an unknown lists pairing, which neither probes nor Doctor guess
    val ivf = Files.createTempDirectory("graft_ivfpq_unpaired_ivf").toString
    val pq = Files.createTempDirectory("graft_ivfpq_unpaired_pq").toString
    val base = (clusterRows(0, 0 until 30) ++ clusterRows(1, 30 until 60))
      .toDF("vec_id", "label", "embedding")
    AnnIndex.build(base, ivf, nlist = 2)
    AnnIndex.buildIvfPq(base, ivf, pq, m = 4, k = 4)
    val codes = Compaction.currentPath(s"$pq/codes")
    graft.GraftFs.default.deleteRecursively(s"$codes/_lists_gen")
    val e = intercept[IllegalStateException](AnnIndex.ivfPqSnapshot(spark, ivf, pq))
    assert(e.getMessage.contains(codes) && e.getMessage.contains("retrainIvfPq"),
      e.getMessage)
    val fails = graft.Doctor.diagnose(pq).filter(_.level == "FAIL")
    assert(fails.exists(f => f.layer == "ann-ivfpq" &&
      f.remedy.contains("retrainIvfPq")),
      s"Doctor must FAIL the unpaired codes, got:\n${fails.map(_.render).mkString("\n")}")
    // the named remedy heals both
    AnnIndex.retrainIvfPq(spark, ivf, pq, m = 4, k = 4)
    val (lr, _, _, _) = AnnIndex.ivfPqSnapshot(spark, ivf, pq)
    assert(lr === Compaction.currentPath(s"$ivf/lists"))
    assert(!graft.Doctor.diagnose(pq).exists(_.level == "FAIL"))
  }

  test("a layout compaction realigns the codes' lists pairing so post-compaction appends stay servable") {
    // compacting the lists retires the lists generation the codes' carried
    // `_lists_gen` sidecar names; without realignListsGenSidecar the
    // composite would pair the RETIRED generation — which stops receiving
    // appends — and the serve-side exact re-rank would silently drop every
    // post-compaction row until the next codes publish.
    val ivf = Files.createTempDirectory("graft_ivfpq_realign_ivf").toString
    val pq = Files.createTempDirectory("graft_ivfpq_realign_pq").toString
    val base = (clusterRows(0, 0 until 30) ++ clusterRows(1, 30 until 60))
      .toDF("vec_id", "label", "embedding")
    AnnIndex.build(base, ivf, nlist = 2)
    AnnIndex.buildIvfPq(base, ivf, pq, m = 4, k = 4)
    AnnIndex.appendIvf(
      clusterRows(1, 100 until 105).toDF("vec_id", "label", "embedding"),
      ivf, Some("k1"))
    AnnIndex.appendIvfPq(
      clusterRows(1, 100 until 105).toDF("vec_id", "label", "embedding"),
      ivf, pq, Some("k1"))
    // the maintenance pair, as the stream cadence runs it
    Compaction.compactBatchKeyed(spark, AnnIndex.listsTable(ivf))
    Compaction.compactBatchKeyed(spark, AnnIndex.codesTable(pq))
    AnnIndex.realignListsGenSidecar(ivf, pq)
    val (lr, _, _, _) = AnnIndex.ivfPqSnapshot(spark, ivf, pq)
    assert(lr === Compaction.currentPath(s"$ivf/lists"),
      s"the realigned pairing must name the LIVE lists generation, got $lr")
    // post-compaction appends land in the live generation — and the serve
    // core (which re-ranks off the paired lists) must find them
    val fresh = clusterRows(0, 200 until 205)
      .toDF("vec_id", "label", "embedding")
    AnnIndex.appendIvf(fresh, ivf, Some("k2"))
    AnnIndex.appendIvfPq(fresh, ivf, pq, Some("k2"))
    val pv = fresh.filter(col("vec_id") === 200L)
      .select("embedding").head().getSeq[Float](0)
    // oversample wide enough that the ADC coarse cut passes every probed
    // candidate — the assertion isolates the RE-RANK FETCH (the half that
    // reads the paired lists), not ADC's ability to separate near-identical
    // cluster members. The clusterRows generator repeats perturbations
    // every 11 ids, so vec 200 has exact clones at 2/13/24 (a four-way
    // cos=1 tie, vec_id-ascending): k = 4 must surface 200 — and can only
    // if the paired generation holds the post-compaction append.
    val got = graft.queries.LlmKnn.knnIvfPqBatchServe(spark, ivf, pq,
        Seq((200L, pv.toArray)), k = 4, nprobe = 1, oversample = 20)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got.contains(200L),
      s"post-compaction appends must be servable through the composite, got $got")
  }

  test("a keyed IVF-PQ append replayed across a composite retrain stays exactly-once and mirrors the lists") {
    // the composite doubles the IVF replay hazard: a replay's rows can move
    // cells because EITHER the centroids re-assigned them or the new
    // codebooks encode them differently — the same write-then-clean keyed
    // protocol must collapse both, and retrainIvfPq must carry the lists'
    // batch fold into the codes it republishes.
    val ivf = Files.createTempDirectory("graft_ivfpq_replay_ivf").toString
    val pq = Files.createTempDirectory("graft_ivfpq_replay_pq").toString
    val base = (clusterRows(0, 0 until 30) ++ clusterRows(1, 30 until 60))
      .toDF("vec_id", "label", "embedding")
    AnnIndex.build(base, ivf, nlist = 2)
    AnnIndex.buildIvfPq(base, ivf, pq, m = 4, k = 4)
    val key = "lineage-9"
    val batch = clusterRows(2, 100 until 110).toDF("vec_id", "label", "embedding")
    AnnIndex.appendIvf(batch, ivf, Some(key))
    AnnIndex.appendIvfPq(batch, ivf, pq, Some(key))
    // maintenance mid-flight: the IVF retrain moves the batch's assignment,
    // then the composite republishes codes + books mirroring the new lists
    AnnIndex.retrainIvf(spark, ivf, nlist = 3, preserveBatchKeys = Set(key))
    AnnIndex.retrainIvfPq(spark, ivf, pq, m = 4, k = 4)
    // crash-replay of the SAME batch under the SAME key against new models
    AnnIndex.appendIvf(batch, ivf, Some(key))
    AnnIndex.appendIvfPq(batch, ivf, pq, Some(key))
    val (codesRoot, books) = AnnIndex.pqSnapshot(spark, pq)
    assert(Files.isDirectory(Paths.get(codesRoot, "_codebooks")),
      "the retrained composite must embed its books in the generation")
    val codes = spark.read.parquet(codesRoot)
      .select(col("vec_id"), col("list_id"), col("batch_id").cast("string"))
      .collect().map(r => (r.getLong(0), r.getAs[Int]("list_id"), r.getString(2)))
    // (a) exactly-once in the CODES table too
    val dup = codes.groupBy(_._1).collect { case (id, rs) if rs.length > 1 => id }
    assert(dup.isEmpty, s"replayed codes must not duplicate: $dup")
    assert(codes.map(_._1).sorted.toSeq === ((0L until 60L) ++ (100L until 110L)))
    // (b) the fold mirrors the lists: in-flight key preserved, history base
    val byKey = codes.groupBy(_._3).view.mapValues(_.map(_._1).sorted.toSeq).toMap
    assert(byKey(key) === (100L until 110L) && byKey("-1") === (0L until 60L),
      s"codes must mirror the lists' batch fold, got ${byKey.keySet}")
    // (c) code placement mirrors the lists' retrained assignment per vector
    val listAssign = spark.read
      .parquet(graft.etl.Compaction.currentPath(s"$ivf/lists"))
      .select("vec_id", "list_id").collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("list_id")).toMap
    codes.foreach { case (id, list, _) =>
      assert(listAssign(id) === list,
        s"vec $id: codes list $list != lists assignment ${listAssign(id)}")
    }
    // (d) an end-to-end composite probe through one snapshot pair sees the
    // batch's cluster exactly once
    assert(books.nonEmpty)
    val e = (clusterRows(0, 0 until 30) ++ clusterRows(1, 30 until 60) ++
      clusterRows(2, 100 until 110)).toDF("vec_id", "label", "embedding")
    val probeVec = e.filter(col("vec_id") === 102L)
      .select("embedding").head().getSeq[Float](0).map(_.toDouble).toArray
    val got = graft.queries.LlmKnn.knnIvfPqProbe(spark, ivf, pq, e, probeVec,
        probeId = 102L, k = 5, nprobe = 1, oversample = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got.size === 5 && got.forall(id => id >= 100L && id < 110L),
      s"pruned composite probe must serve the batch's cluster, got $got")
  }

  test("a replay heals the crash window between the keyed append and its stale-file sweep") {
    // appendIvf writes the replay's rows BEFORE deleting the previous
    // attempt's files (delete-first would un-publish rows a concurrent
    // probe already saw). A crash INSIDE that window leaves both attempts'
    // files under the key — transient duplication in the at-least-once
    // direction — and the next replay's sweep must collapse it.
    val ivf = Files.createTempDirectory("graft_ivf_torn").toString
    AnnIndex.build(clusterRows(0, 0 until 20).toDF("vec_id", "label", "embedding"),
      ivf, nlist = 2)
    val key = "lineage-3"
    val batch = clusterRows(1, 100 until 110).toDF("vec_id", "label", "embedding")
    AnnIndex.appendIvf(batch, ivf, Some(key))
    // fabricate the torn state: clone every committed file of the key's
    // cells, as if a crashed attempt's files had survived the sweep
    import scala.jdk.CollectionConverters._
    val root = Paths.get(graft.etl.Compaction.currentPath(s"$ivf/lists"))
    val cells = {
      val s = Files.list(root)
      try s.iterator().asScala.toSeq
        .filter(d => d.getFileName.toString.startsWith("list_id="))
        .map(_.resolve(s"batch_id=$key")).filter(Files.isDirectory(_))
      finally s.close()
    }
    assert(cells.nonEmpty)
    cells.foreach { cell =>
      val s = Files.list(cell)
      val fs = try s.iterator().asScala.toSeq.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
      } finally s.close()
      fs.foreach(f => Files.copy(f,
        f.getParent.resolve("dup-" + f.getFileName.toString)))
    }
    def keyRows() = spark.read.parquet(root.toString)
      .filter(col("batch_id").cast("string") === key)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keyRows() === (100L until 110L).flatMap(i => Seq(i, i)),
      "sanity: the torn state is visibly duplicated")
    // the replay: append-then-sweep collapses both prior attempts
    AnnIndex.appendIvf(batch, ivf, Some(key))
    assert(keyRows() === (100L until 110L),
      "the replay's sweep must remove every prior attempt's files")
    assert(spark.read.parquet(root.toString).count() === 30L,
      "base rows untouched")
  }

  test("a crash before the retrain's pointer flip leaves the old composite current") {
    val ivf = Files.createTempDirectory("graft_ivf_retrain_crash").toString
    val base = (clusterRows(0, 0 until 20) ++ clusterRows(1, 20 until 40))
      .toDF("vec_id", "label", "embedding")
    AnnIndex.build(base, ivf, nlist = 2)
    val (root0, cents0) = AnnIndex.ivfSnapshot(spark, ivf)
    // fabricate a retrain that died after writing its rewrite but before
    // the flip: a future generation dir with embedded centroids, no pointer
    val orphan = Paths.get(s"$ivf/lists.v1")
    Files.createDirectories(orphan.resolve("_centroids"))
    assert(AnnIndex.ivfSnapshot(spark, ivf)._1 === root0,
      "an unflipped retrain must leave the old generation current")
    assert(AnnIndex.ivfSnapshot(spark, ivf)._2.length === cents0.length)
    // the next maintenance entry reclaims the orphan and publishes cleanly
    val ver = AnnIndex.retrainIvf(spark, ivf, nlist = 2)
    assert(ver === 1L)
    val (root1, cents1) = AnnIndex.ivfSnapshot(spark, ivf)
    assert(root1 === s"$ivf/lists.v1" && cents1.length === 2)
    assert(spark.read.parquet(root1).count() === 40L)
  }
}
