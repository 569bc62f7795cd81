package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{AnnIndex, IncrementalDedup}

/** At-least-once replay contracts of the batch_id-keyed index writes
  * (SURVEY.md §2.9/§2.10 incremental maintenance): a streaming micro-batch
  * that re-delivers after a crash must OVERWRITE its own `batch_id=`
  * partitions — never append duplicate postings, and a partially-landed
  * commit must heal whole on replay. These are the unit-level twins of the
  * composed StreamingSpec corpus-ingest replay cases, exercising a TRUE
  * same-batch-id replay (the MemoryStream path can only produce fresh
  * ids). */
class ReplayIdempotenceSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def vecs(ids: Range) = ids.map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 31 + j).toFloat)))
    .toDF("vec_id", "embedding")

  test("appendLsh under a batch id: replay overwrites its own cells; a new batch adds; probes see all") {
    val idx = Files.createTempDirectory("graft_replay_lsh").toString
    AnnIndex.appendLsh(vecs(0 until 20), idx, bands = 3, bits = 8, Some("q1-7"))
    val c1 = spark.read.parquet(s"$idx/buckets").count()
    AnnIndex.appendLsh(vecs(0 until 20), idx, bands = 3, bits = 8, Some("q1-7"))
    assert(spark.read.parquet(s"$idx/buckets").count() === c1,
      "a same-batch-id replay must rewrite its cells, not append")
    AnnIndex.appendLsh(vecs(20 until 30), idx, bands = 3, bits = 8, Some("q1-8"))
    assert(spark.read.parquet(s"$idx/buckets").count() > c1,
      "a NEW batch id must add postings")
    assert(spark.read.parquet(s"$idx/buckets")
      .select("vec_id").distinct().count() === 30,
      "the batch_id level must stay transparent to readers")
  }

  test("appendSq8 under a batch id: replay rewrites its own partition; ad-hoc appends still append") {
    val idx = Files.createTempDirectory("graft_replay_sq8").toString
    def n = spark.read.parquet(s"$idx/sq8").count()
    AnnIndex.appendSq8(vecs(0 until 20), idx, Some("q1-3"))
    assert(n === 20)
    AnnIndex.appendSq8(vecs(0 until 20), idx, Some("q1-3"))
    assert(n === 20, "a same-batch-id replay must not grow the SQ8 index")
    AnnIndex.appendSq8(vecs(20 until 25), idx, Some("q1-4"))
    assert(n === 25)
    AnnIndex.appendSq8(vecs(25 until 26), idx)
    assert(n === 26, "a batch-less append lands under the base partition")
  }

  test("commitPostings under a batch id: a replay heals a partially-landed commit whole") {
    val idx = Files.createTempDirectory("graft_replay_posts").toString
    val posts = Seq((0, "k1", 1L), (0, "k2", 2L), (1, "k3", 1L))
      .toDF("band", "bkey", "doc_id")
    IncrementalDedup.commitPostings(posts, idx, Some("q1-5"))
    assert(spark.read.parquet(s"$idx/postings").count() === 3)
    IncrementalDedup.commitPostings(posts, idx, Some("q1-5"))
    assert(spark.read.parquet(s"$idx/postings").count() === 3,
      "a same-batch-id replay must rewrite, not append")
    // simulate a PARTIAL landing (crash mid-commit left only a subset in
    // batch 5's partition), then replay the full commit: the partition
    // overwrite must restore the complete posting set
    IncrementalDedup.commitPostings(posts.filter(col("doc_id") === 1L), idx, Some("q1-5"))
    assert(spark.read.parquet(s"$idx/postings").count() === 2)
    IncrementalDedup.commitPostings(posts, idx, Some("q1-5"))
    assert(spark.read.parquet(s"$idx/postings").count() === 3,
      "the replayed commit must heal the partial landing whole")
  }

  test("keptPostings excludeBatchId: a replay sees the pre-batch index and re-derives the original survivors") {
    val idx = Files.createTempDirectory("graft_replay_kept").toString
    val b = Seq((1L, "alpha bravo charlie delta echo"),
                (2L, "foxtrot golf hotel india juliet"))
      .toDF("doc_id", "text")
    val kept0 = IncrementalDedup.keptPostings(b, idx, excludeBatchKey = Some("q1-4"))
    val rows0 = kept0.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"),
        r.getAs[String]("bkey"))).toSet
    assert(rows0.map(_._1) === Set(1L, 2L))
    IncrementalDedup.commitPostings(kept0, idx, Some("q1-4"))
    // WITHOUT exclusion, a replayed doc collides with its own committed
    // postings and survives nothing (the batch-mode collision semantics)
    assert(IncrementalDedup.keptPostings(b, idx)
      .select("doc_id").distinct().count() === 0)
    // WITH its own batch id excluded, the replay recomputes against the
    // exact pre-batch state: identical posting rows come back
    val replay = IncrementalDedup
      .keptPostings(b, idx, excludeBatchKey = Some("q1-4")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"),
        r.getAs[String]("bkey"))).toSet
    assert(replay === rows0,
      "the excluded-batch replay must re-derive the original survivor set")
    // a DIFFERENT batch id excludes nothing relevant and collides normally
    assert(IncrementalDedup
      .keptPostings(b, idx, excludeBatchKey = Some("q1-5"))
      .select("doc_id").distinct().count() === 0)
  }

  test("lineage isolation: a fresh-checkpoint restart reusing batch number 0 cannot clobber a prior lineage") {
    // run 1 (lineage q1) commits batch 0; run 2 restarts from a fresh
    // checkpoint (new query id q2) and its batch 0 writes under q2-0 —
    // q1-0's postings must survive untouched in every table
    val lsh = Files.createTempDirectory("graft_lineage_lsh").toString
    val sq8 = Files.createTempDirectory("graft_lineage_sq8").toString
    val posts = Files.createTempDirectory("graft_lineage_posts").toString
    AnnIndex.appendLsh(vecs(0 until 10), lsh, bands = 3, bits = 8, Some("q1-0"))
    AnnIndex.appendSq8(vecs(0 until 10), sq8, Some("q1-0"))
    val p1 = Seq((0, "cell-a", 1L), (0, "cell-b", 2L)).toDF("band", "bkey", "doc_id")
    IncrementalDedup.commitPostings(p1, posts, Some("q1-0"))

    AnnIndex.appendLsh(vecs(10 until 15), lsh, bands = 3, bits = 8, Some("q2-0"))
    AnnIndex.appendSq8(vecs(10 until 15), sq8, Some("q2-0"))
    val p2 = Seq((0, "cell-a", 9L)).toDF("band", "bkey", "doc_id")
    IncrementalDedup.commitPostings(p2, posts, Some("q2-0"))

    assert(spark.read.parquet(s"$lsh/buckets")
      .select("vec_id").distinct().count() === 15,
      "both lineages' LSH postings must coexist")
    assert(spark.read.parquet(s"$sq8/sq8").count() === 15,
      "both lineages' SQ8 rows must coexist")
    val docIds = spark.read.parquet(s"$posts/postings")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(docIds === Seq(1L, 2L, 9L),
      s"run 2's batch 0 must not wipe run 1's batch-0 postings, got $docIds")
  }

  test("coalescing compaction preserves the in-flight batch key: a post-compaction replay still re-derives its survivors") {
    val idx = Files.createTempDirectory("graft_compact_preserve").toString
    val b0 = Seq((1L, "alpha bravo charlie delta echo")).toDF("doc_id", "text")
    val b1 = Seq((2L, "kilo lima mike november oscar")).toDF("doc_id", "text")
    IncrementalDedup.commitPostings(
      IncrementalDedup.keptPostings(b0, idx, excludeBatchKey = Some("q1-0")),
      idx, Some("q1-0"))
    val kept1 = IncrementalDedup
      .keptPostings(b1, idx, excludeBatchKey = Some("q1-1"))
    val rows1 = kept1.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"),
        r.getAs[String]("bkey"))).toSet
    IncrementalDedup.commitPostings(kept1, idx, Some("q1-1"))
    // in-stream maintenance runs right after batch 1's commit, BEFORE the
    // checkpoint commits its offsets — batch 1 must survive the fold
    graft.etl.Compaction.compactBatchKeyed(spark, IncrementalDedup.postingsTable(idx),
      preserveBatchKeys = Set("q1-1"))
    val keys = spark.read
      .parquet(graft.etl.Compaction.currentPath(s"$idx/postings"))
      .select(col("batch_id").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(keys === Set("-1", "q1-1"),
      s"checkpointed batches fold to the base; the in-flight key survives — got $keys")
    // crash-replay of batch 1 after the compaction: its excludeBatchKey
    // filter still hides its own postings, so it re-derives the original
    // survivor set (the ADVICE r11 divergence scenario, prevented)
    val replay = IncrementalDedup
      .keptPostings(b1, idx, excludeBatchKey = Some("q1-1")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("band"),
        r.getAs[String]("bkey"))).toSet
    assert(replay === rows1,
      "a replay after guarded compaction must re-derive the original survivors")
    // the hazard the guard exists for: an UNGUARDED coalesce folds q1-1
    // into the base, the replay sees its own postings as stored state,
    // and drops its own doc — divergence
    graft.etl.Compaction.compactBatchKeyed(spark, IncrementalDedup.postingsTable(idx))
    assert(IncrementalDedup
      .keptPostings(b1, idx, excludeBatchKey = Some("q1-1"))
      .select("doc_id").distinct().count() === 0,
      "unguarded coalesce demonstrably defeats the replay exclusion " +
        "(this is why corpusIngest passes preserveBatchKeys)")
  }

  test("keyed writes reject a malformed batch key before anything is written") {
    val lsh = Files.createTempDirectory("graft_badkey_lsh").toString
    val sq8 = Files.createTempDirectory("graft_badkey_sq8").toString
    val idx = Files.createTempDirectory("graft_badkey_posts").toString
    val posts = Seq((0, "k1", 1L), (0, "k2", 2L)).toDF("band", "bkey", "doc_id")
    IncrementalDedup.commitPostings(posts, idx)
    // "-1" is the folded base: a write keyed "-1" would replace it
    for (k <- Seq("-1", "a/b", "..", "")) {
      intercept[IllegalArgumentException] {
        IncrementalDedup.commitPostings(posts.limit(1), idx, Some(k))
      }
      intercept[IllegalArgumentException] {
        AnnIndex.appendLsh(vecs(0 until 5), lsh, bands = 3, bits = 8, Some(k))
      }
      intercept[IllegalArgumentException] {
        AnnIndex.appendSq8(vecs(0 until 5), sq8, Some(k))
      }
    }
    assert(spark.read.parquet(s"$idx/postings").count() === 2,
      "a rejected key must leave the base postings as they were")
    assert(!Files.exists(java.nio.file.Paths.get(lsh, "buckets")) &&
      !Files.exists(java.nio.file.Paths.get(sq8, "sq8")),
      "a rejected key must write nothing")
  }

  test("the LSH append's write plan sorts once: (band, batch_id, bkt) satisfies the writer's ordering") {
    import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    val idx = Files.createTempDirectory("graft_lsh_sort").toString
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      AnnIndex.appendLsh(vecs(0 until 20), idx, bands = 3, bits = 8, Some("q1-0"))
      assert(org.apache.spark.sql.GraftSqlBridge.drainListenerBus(
        spark.sparkContext, 30000L))
    } finally spark.listenerManager.unregister(listener)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case n => Seq(n)
    }.flatten
    val writes = executed.toArray(Array.empty[QueryExecution]).toSeq
      .map(qe => nodes(qe.executedPlan))
      .filter(_.exists(_.isInstanceOf[DataWritingCommandExec]))
    assert(writes.size === 1, s"expected one write, got ${writes.size}")
    val sorts = writes.head.collect { case s: SortExec => s }
    assert(sorts.size === 1,
      s"expected exactly one SortExec in the write plan, got ${sorts.size}:\n" +
        sorts.mkString("\n"))
    assert(sorts.head.sortOrder.last.child.references.map(_.name).toSeq === Seq("bkt"),
      s"the one sort must end on bkt, got ${sorts.head.sortOrder}")
  }

  test("a gram table holding a directory outside batch_id= fails the batch, naming the path") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dedupDir = Files.createTempDirectory("graft_stray_dedup").toString
    val lshDir = Files.createTempDirectory("graft_stray_lsh").toString
    val corpusDir = Files.createTempDirectory("graft_stray_corpus").toString
    val grams = s"$corpusDir/_eval_grams"
    Files.createDirectories(java.nio.file.Paths.get(grams, "stray"))
    def emb(seed: Int): Array[Float] =
      Array.tabulate(8)(i => math.sin(seed * 31 + i).toFloat)
    val mem = MemoryStream[SourcedDoc]
    val q = graft.stream.Streams.corpusIngest(mem.toDF(), dedupDir, lshDir,
      corpusDir, holdoutSources = Seq("eval"), decontaminate = true).start()
    try {
      mem.addData(
        SourcedDoc(1, "alpha bravo charlie delta echo foxtrot", "eval", emb(1)),
        SourcedDoc(2, "kilo lima mike november oscar papa", "web", emb(2)))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(err).exists(m => m.contains(grams) && m.contains("stray")),
        s"the failure must name the gram table and the stray entry, got: $err")
      assert(!graft.etl.BucketedTable.exists(corpusDir),
        "a failed batch must publish nothing")
    } finally q.stop()
  }
}
