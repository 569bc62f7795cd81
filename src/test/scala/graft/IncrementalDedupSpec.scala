package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.IncrementalDedup
import graft.queries.Llm

/** One document row for the streaming-ingest test (top-level so the
  * case-class Encoder has no outer pointer). */
case class Doc(doc_id: Long, text: String)

/** Continuous-ingest dedup contracts (SURVEY.md §2.9 / §4): a batch is
  * deduped against the persisted posting index in O(batch) work — no
  * corpus re-hash — and the index keeps the bucket-unique invariant that
  * makes the collision check sound. */
class IncrementalDedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def docs = Tables.documents(spark, TestSpark.sfDir)

  test("first batch: incremental ingest equals the batch q_dedup_keep semantics") {
    val idx = Files.createTempDirectory("graft_inc_idx").toString
    val b1 = docs.filter(col("doc_id") < 250)
    val kept = IncrementalDedup.ingest(b1, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dropped = Llm.dedupGroups(Llm.minhashPairs(b1))
      .filter(col("doc_id") =!= col("group_id"))
      .collect().map(_.getLong(0)).toSet
    val expected = b1.select("doc_id").collect().map(_.getLong(0)).toSet -- dropped
    assert(kept === expected,
      "incremental first-batch result diverges from the batch dedup path")
  }

  test("two batches: bucket-unique index, cross-batch drops, replay re-admits none kept") {
    val idx = Files.createTempDirectory("graft_inc_idx2").toString
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250)
    val kept1 = IncrementalDedup.ingest(b1, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val k2 = IncrementalDedup.ingest(b2, idx).count()
    assert(kept1.nonEmpty && k2 > 0)
    assert(k2 < b2.count(), "second batch should lose docs to cross-batch collisions")
    def maxPerCell = spark.read.parquet(s"$idx/postings")
      .groupBy("band", "bkey").count().agg(max("count")).head().getLong(0)
    // invariant: every (band, bkey) cell holds at most ONE kept doc — two
    // docs sharing a cell are a candidate pair, and one always loses
    assert(maxPerCell === 1L, "a posting cell holds two kept docs")
    // replay: every already-indexed doc collides with its own stored
    // postings and is dropped; only earlier chain-dropped docs (whose
    // duplicates were never indexed) may be re-admitted — greedily correct,
    // and the bucket-unique invariant must survive the replay too
    val replay = IncrementalDedup.ingest(b1, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replay.intersect(kept1).isEmpty,
      "replay re-admitted docs that are already in the index")
    assert(maxPerCell === 1L, "replay broke the bucket-unique invariant")
  }

  test("stored-index gate streams the posting table — never broadcast, never shuffled") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.QueryExecution
    val idx = Files.createTempDirectory("graft_inc_idx_plan").toString
    IncrementalDedup.ingest(docs.filter(col("doc_id") < 250), idx).count()
    // the gate scans the stored postings inside one of its eager pins, so
    // the plans to check are every execution the gate and its collect run
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executed.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      IncrementalDedup.keptPostings(docs.filter(col("doc_id") >= 250), idx)
        .collect()
      assert(org.apache.spark.sql.GraftSqlBridge.drainListenerBus(
        spark.sparkContext, 30000L))
    } finally spark.listenerManager.unregister(listener)
    def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case n => Seq(n)
    }.flatten
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def isPostingsScan(p: SparkPlan): Boolean = p match {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.contains("postings"))
      case _ => false
    }
    // UNREDUCED reachability: does the raw postings scan feed this node
    // without passing a broadcast-gate join (which shrinks the stream to
    // batch-bounded hits)? Descend through AQE wrappers; stop at BHJ.
    def rawPostings(p: SparkPlan): Boolean = p match {
      case f if isPostingsScan(f) => true
      case _: BroadcastHashJoinExec => false
      case a: AdaptiveSparkPlanExec => rawPostings(a.executedPlan)
      case q: QueryStageExec => rawPostings(q.plan)
      case other => other.children.exists(rawPostings)
    }
    // at 100 TB the posting index is the corpus-sized side: it must be the
    // STREAMED side of a broadcast gate — corpus-volume rows must never
    // enter an exchange (exchanges above the gate carry only reduced hits)
    val scanning = executed.toArray(Array.empty[QueryExecution]).toSeq
      .map(qe => nodes(qe.executedPlan)).filter(_.exists(isPostingsScan))
    assert(scanning.nonEmpty, "no executed plan scanned the stored postings")
    val all = scanning.flatten
    val offenders = all.collect {
      case e: BroadcastExchangeExec if rawPostings(e.child) => "broadcast(raw postings)"
      case e: ShuffleExchangeExec if rawPostings(e.child) => "shuffle(raw postings)"
    }
    assert(offenders.isEmpty,
      s"corpus-volume posting rows entered an exchange: ${offenders.mkString(", ")}")
    val gated = scanning.forall(_.exists {
      case j: BroadcastHashJoinExec =>
        val streamed = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.right
          case _ => j.left
        }
        rawPostings(streamed)
      case _ => false
    })
    assert(gated, "expected the postings scan streamed into a broadcast gate join")
  }

  test("a postings root without its batch_id= level fails the gate, naming the table") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_inc_flat").toString
    // data files straight under the root: no code here writes this layout,
    // and reading it as an empty index would re-admit the stored docs' dups
    Seq((0, "k1", 1L)).toDF("band", "bkey", "doc_id")
      .write.parquet(s"$idx/postings")
    val err = intercept[IllegalStateException] {
      IncrementalDedup.ingest(docs.filter(col("doc_id") < 20), idx)
    }
    assert(err.getMessage.contains(s"$idx/postings"),
      s"the failure must name the table, got: ${err.getMessage}")
  }

  test("a misnamed imageCol fails loudly instead of silently disabling the image gate") {
    val idx = Files.createTempDirectory("graft_inc_imgcol").toString
    val err = intercept[IllegalArgumentException] {
      IncrementalDedup.ingest(docs.limit(5), idx, imageCol = Some("nope"))
    }
    assert(err.getMessage.contains("nope") && err.getMessage.contains("imageCol"),
      s"the failure must name the missing column, got: ${err.getMessage}")
  }

  test("unshingleable docs: exact replays drop via the band=-1 whole-text cell") {
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_inc_idx3").toString
    // null text ⇒ no shingles ⇒ no minhash signature: the ONLY duplicate
    // evidence such a doc can carry is its whole-text hash, indexed in
    // sentinel band -1
    val b1 = Seq((10L, null: String), (11L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val kept1 = IncrementalDedup.ingest(b1, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept1 === Set(10L, 11L), "first ingest must keep both docs")
    val bands = spark.read.parquet(s"$idx/postings")
      .filter(col("doc_id") === 10L).select("band")
      .collect().map(_.getInt(0)).toSet
    assert(bands === Set(-1), s"unshingleable doc must index ONLY the hash cell (got $bands)")
    // replay: the unshingleable doc now collides with its own stored cell
    val replay = IncrementalDedup.ingest(b1, idx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replay.isEmpty, s"replayed docs re-admitted: $replay")
    // and two identical unshingleable docs in ONE batch self-dedup too
    val b2 = Seq((20L, null: String), (21L, null: String)).toDF("doc_id", "text")
    val kept2 = IncrementalDedup.ingest(b2, Files.createTempDirectory("graft_inc_idx4").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 === Set(20L), s"within-batch null-text dup must lose (kept=$kept2)")
  }

  test("undecodable media with null text: distinct payloads are distinct sentinel cells, not mutual dups") {
    // With an audio column configured, payloads OUTSIDE the decodable
    // subset (everything but 16-bit PCM WAV — the common case for real
    // media) carry no fingerprint postings and fall to the band=-1
    // sentinel. The sentinel hashes the PAYLOAD too: distinct clips must
    // both be admitted (a text-only hash would collapse every null-text
    // one onto the md5("") cell and greedy-drop all but the first), while
    // an exact replay still collides with its own stored cell.
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_inc_idx5").toString
    def junk(seed: Int) = Array.tabulate[Byte](64)(j => (seed * 31 + j * 7).toByte)
    val b1 = Seq((30L, null: String, junk(1)), (31L, null: String, junk(2)))
      .toDF("doc_id", "text", "audio")
    val kept1 = IncrementalDedup.ingest(b1, idx, audioCol = Some("audio"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept1 === Set(30L, 31L),
      s"distinct undecodable clips must BOTH be admitted, got $kept1")
    // exact replay: both collide with their own stored sentinel cells
    val replay = IncrementalDedup.ingest(b1, idx, audioCol = Some("audio"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replay.isEmpty, s"replayed docs re-admitted: $replay")
    // a later batch re-sending doc 30's exact payload under a NEW id is an
    // exact dup and drops; a genuinely new payload is admitted
    val b2 = Seq((32L, null: String, junk(1)), (33L, null: String, junk(3)))
      .toDF("doc_id", "text", "audio")
    val kept2 = IncrementalDedup.ingest(b2, idx, audioCol = Some("audio"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 === Set(33L),
      s"exact payload repeat must drop, novel payload must admit, got $kept2")
  }

  test("videoCol ingest: near-dup clips drop across batches; the band namespace guard is structural") {
    import spark.implicits._
    import graft.sources.Multimodal
    val idx = Files.createTempDirectory("graft_inc_idx_vid").toString
    val clips = Multimodal.syntheticVideoCorpus(spark, 3, everyK = 1000)
      .collect().map(a => a.asset_id -> a.payload).toMap
    val b1 = Seq((1L, null: String, clips(0L)), (2L, null: String, clips(1L)))
      .toDF("doc_id", "text", "video")
    val kept1 = IncrementalDedup.ingest(b1, idx, videoCol = Some("video"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept1 === Set(1L, 2L))
    // batch 2: a re-containered copy of clip 0 under a new id collides with
    // the stored video postings; a novel clip is admitted
    val b2 = Seq((3L, null: String, Multimodal.withTrailingJunkAvi(clips(0L))),
                 (4L, null: String, clips(2L)))
      .toDF("doc_id", "text", "video")
    val kept2 = IncrementalDedup.ingest(b2, idx, videoCol = Some("video"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 === Set(4L),
      s"re-containered near-dup must drop, novel clip must admit, got $kept2")
    // ADVICE r13 #4: media band namespaces are disjoint from text bands
    // STRUCTURALLY — a text band count reaching into the media range is
    // refused loudly, not silently collided
    val err = intercept[IllegalArgumentException] {
      IncrementalDedup.keptPostings(b1, idx, bands = 1000)
    }
    assert(err.getMessage.contains("band"))
  }

  test("streaming ingest: foreachBatch drives the posting index per micro-batch") {
    // The production wiring: a document stream dedups against the SAME
    // persisted posting index, one O(batch) ingest per micro-batch — the
    // batch and streaming paths share IncrementalDedup verbatim.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val idx = Files.createTempDirectory("graft_inc_stream_idx").toString
    val outDir = Files.createTempDirectory("graft_inc_stream_out").toString + "/kept"
    val mem = MemoryStream[Doc]
    val q = mem.toDF()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        IncrementalDedup.ingest(batch, idx)
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()
    try {
      mem.addData(
        Doc(1L, "alpha beta gamma delta epsilon zeta eta theta"),
        Doc(2L, "one two three four five six seven eight nine ten"))
      q.processAllAvailable()
      mem.addData(
        Doc(3L, "alpha beta gamma delta epsilon zeta eta theta"), // dup of 1
        Doc(4L, "completely fresh vocabulary nothing shared at all here"))
      q.processAllAvailable()
      val kept = spark.read.parquet(outDir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 2L, 4L),
        s"cross-micro-batch duplicate must drop against the index (kept=$kept)")
    } finally q.stop()
  }
}
