package graft.etl

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.GraftFs
import graft.queries.Exprs.{pinLazy, pinShared}
import graft.queries.Llm

/** CONTINUOUS CORPUS INGEST: documents arrive as a stream, and each
  * micro-batch runs three stages over the engine's incremental pieces:
  *
  *   1. [[decide]] builds one pinned decision frame, one row per batch doc
  *      with its decision, its deciding gate and the doc as it would
  *      publish;
  *   2. [[publish]] lands every effect of that frame as one concurrent set
  *      of Spark jobs, then commits the survivors' dedup postings last;
  *   3. [[maintain]] runs the vacuum, the index compactions and the IVF
  *      retrain on their cadences.
  *
  * [[graft.stream.Streams.corpusIngest]] wires [[batch]] into
  * `foreachBatch`; the fields are its parameters, with the same defaults.
  *
  * At-least-once: `foreachBatch` may replay a batch after a crash at any
  * point of [[publish]]. Every read of batch-keyed state skips the batch's
  * own key ([[BatchKeyed]]), so the replay's decisions are identical to
  * the first attempt's whichever effects landed, and every effect is an
  * idempotent rewrite: the corpus commit no-ops (no novel docs) or
  * rewrites the same buckets, the LSH/SQ8/IVF/posting writes overwrite
  * their own `batch_id=` partitions with identical content, and the
  * ledger rolls back its own last delta. A fresh-checkpoint restart
  * (batch ids restarting at 0) writes under new keys and accumulates onto
  * the ledger without touching a prior lineage's data.
  *
  * The curation gates reject what the batch funnel ([[CorpusPipeline]])
  * rejects, at admission. All are off by default:
  *   - `holdoutSources`, `qualityGate`, `repetitionGate`: the funnel's
  *     map-side gates, one shared definition ([[CorpusPipeline.mapGates]]);
  *   - `decontaminate`: dedup survivors sharing a word 4-gram
  *     ([[graft.queries.Llm.gram4Rows]]) with the held-out docs are
  *     rejected. The eval grams persist batch-keyed at
  *     `corpusDir/_eval_grams`, so contamination evidence accumulates over
  *     the stream's life and each batch's check is O(batch) probe work;
  *   - `spanDecontaminate`: the span grain of the same table. Holdout docs
  *     also store their sliding 10-word anchors (the `q_substring_dedup`
  *     unit, grain `a10` beside the 4-gram grain `g4`), and a survivor
  *     whose own anchors hit one is rejected: verbatim-passage evidence at
  *     any offset, which whole-doc MinHash misses. Each grain gates only
  *     against its own rows; the audit gate is `eval_gram` for both;
  *   - `spanExcise`: a transform, not a gate. Words of an admitted doc
  *     that repeat a sliding 10-word anchor already in the corpus (or
  *     earlier in the same batch) are cut before publication, the
  *     streaming counterpart of `q_substring_excise`
  *     ([[graft.queries.Llm.exciseIncremental]]). No doc drops; a fully
  *     excised doc publishes empty text, and its near-dup postings,
  *     computed on the original text, still gate future copies. The
  *     corpus's anchors persist batch-keyed at `corpusDir/_span_anchors`.
  *
  * `budgetPerSource` caps each source's published words, reading prior
  * spend from the compacted ledger at `corpusDir/_budget`. `auditDir`
  * writes the admission decision log: one row per batch doc with its
  * decision and deciding gate, the streaming twin of `q_curation_audit`.
  *
  * `ivfDir` rides the trainable rung of the ANN ladder on the stream: the
  * first admitting batch seeds a centroid model, every batch appends its
  * survivors against the frozen centroids, and `ivfRetrainEvery` re-fits
  * the whole lists corpus to `ivfNlist` centroids. `ivfPqDir` (requires
  * `ivfDir`) extends that lifecycle to the IVF-PQ composite: codebooks
  * seed from the first admitting batch, every batch encodes against the
  * frozen (centroids, books) pair, the retrain republishes the composite
  * right after the IVF publish it mirrors, and the compaction cadence
  * coalesces the per-list code fragments in between.
  *
  * The flat PQ index does not ride the stream: its codes table stores
  * only m-byte codes, so an in-stream [[AnnIndex.retrainPq]] would have no
  * raw vectors to re-encode from. A streaming flat PQ would need a shadow
  * vector table, which is what the composite's IVF lists already are. A
  * pipeline that wants streamed quantized scans without a second model
  * takes `sq8Dir` (data-independent, nothing to retrain). */
final case class CorpusIngest(dedupDir: String, lshDir: String,
                              corpusDir: String,
                              sq8Dir: Option[String] = None,
                              budgetPerSource: Option[Long] = None,
                              nBuckets: Int = 64,
                              vacuumEvery: Int = 0, compactEvery: Int = 0,
                              imageCol: Option[String] = None,
                              audioCol: Option[String] = None,
                              videoCol: Option[String] = None,
                              ivfDir: Option[String] = None,
                              ivfNlist: Int = 16,
                              ivfRetrainEvery: Int = 0,
                              ivfPqDir: Option[String] = None,
                              pqM: Int = 4, pqK: Int = 16,
                              ivfRetrainMinGrowth: Double = 0.0,
                              auditDir: Option[String] = None,
                              holdoutSources: Seq[String] = Nil,
                              qualityGate: Boolean = false,
                              repetitionGate: Boolean = false,
                              decontaminate: Boolean = false,
                              spanDecontaminate: Boolean = false,
                              spanExcise: Boolean = false) {
  import CorpusIngest._

  // the composite's coarse half IS the IVF index: list assignment,
  // partition pruning and the retrain corpus all come from its lists
  require(ivfPqDir.isEmpty || ivfDir.nonEmpty,
    "ivfPqDir requires ivfDir — the IVF-PQ composite assigns, prunes and " +
      "retrains through the paired IVF index's lists")
  // the eval-gram table is sourced only from holdout-source documents, so
  // decontamination without holdout sources would gate nothing
  require(!(decontaminate || spanDecontaminate) || holdoutSources.nonEmpty,
    "decontaminate/spanDecontaminate require holdoutSources — the " +
      "eval-gram posting table is derived solely from holdout-source " +
      "documents, so an empty holdout set would make decontamination a " +
      "silent no-op")

  /** The two batch-keyed gram tables kept beside the corpus. */
  private val evalGrams =
    BatchKeyed(s"$corpusDir/_eval_grams", "gram STRING, grain STRING, batch_id STRING")
  private val spanAnchors = BatchKeyed(s"$corpusDir/_span_anchors", "gram STRING, batch_id STRING")
  private val budgetDir = s"$corpusDir/_budget"
  private def anyDecon = decontaminate || spanDecontaminate

  /** The ingest as a stream writer over `docs`. */
  def writer(docs: DataFrame): DataStreamWriter[Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (b: DataFrame, batchId: Long) => batch(b, batchId)
    }

  /** One micro-batch: [[decide]], then [[publish]], then [[maintain]]. */
  def batch(docs: DataFrame, batchId: Long): Unit = {
    val batchKey = BatchKeyed.key(docs.sparkSession, batchId)
    val seeded = publish(decide(docs, batchId, batchKey), batchId, batchKey)
    maintain(docs.sparkSession, batchId, batchKey, seeded)
  }

  /** DECIDE: every gate of the batch lands in one decision frame, built as
    * one plan over the near-dup gate's pinned postings and pinned once.
    * Its rows are the batch's own columns plus `__decision` (admitted /
    * holdout_excluded / quality_gate / repetition_filter / near_dup /
    * decontaminated / budget_rejected, the first failing gate in funnel
    * order) and `__gate`, the deciding mechanism: for a near_dup the
    * modality whose band collided (`text` / `image` / `audio` / `video`,
    * or `exact` for the signature-less content-hash sentinel), `eval_gram`
    * for decontamination, `budget` for a budget rejection, null for
    * admitted docs and the map gates (which name themselves). Gate order
    * matches the funnel: holdout → quality → repetition → near-dup →
    * decontaminate → span-excise → budget. Rejected docs consume no budget
    * and are never indexed.
    *
    * The near-dup gate ([[IncrementalDedup.gateBatch]]) dedups the batch
    * against the posting index and within itself with banded equi-joins,
    * O(batch) work; with `imageCol` / `audioCol` / `videoCol` set,
    * decodable media payloads post their perceptual fingerprint bands
    * through the same machinery (band namespaces 1000+ image, 2000+ audio,
    * 3000+ video). Every read of batch-keyed state (postings, eval grams,
    * span anchors) skips `batchKey`, and the budget ledger rolls back its
    * own delta when `batchId` and the lineage match its high-water mark,
    * so a replay decides from the exact pre-batch state. Only ids and
    * scalars reach the driver. */
  def decide(batch: DataFrame, batchId: Long, batchKey: String): Decision = {
    val spark = batch.sparkSession
    // the gates call registered functions (word_ngrams for the span grain;
    // the index appends' cosine) — idempotent
    graft.expr.GraftFunctions.ensureRegistered(spark)
    // cumulative map-gate flags __g1..__g3 as row expressions: they
    // evaluate inside the dedup gate's pin (its input filter) and the
    // decision pin below, so the cheap gates shrink the batch before any
    // posting-index join
    val flagged = CorpusPipeline.mapGates(batch, holdoutSources, qualityGate, repetitionGate)
    val admittable = flagged.filter(col("__g3")).select(batch.columns.map(col).toSeq: _*)
    val holdoutGrams = Option.when(anyDecon)(holdoutGramsOf(batch))
    // the batch's posting rows pinned once, with the stored-index evidence
    // and the in-batch components; the per-doc verdict (survivor flag and
    // deciding modality) is a lazy frame over that pin
    val (posts, dedupVerdict) = IncrementalDedup.gateBatch(
      admittable, dedupDir, excludeBatchKey = Some(batchKey),
      imageCol = imageCol, audioCol = audioCol, videoCol = videoCol)
    val contaminated = holdoutGrams.map(contamination(admittable, _, batchKey))
    val ledgerExists = GraftFs.default.exists(s"$budgetDir/_CURRENT")
    val priorSpend = budgetPerSource.map(_ => priorSpendOf(batch, batchId, ledgerExists))
    // the gate flags in funnel order: `__dd` near-dup survivor, `__cl`
    // also uncontaminated, `__bk` also within budget
    val gated = {
      val d = flagged
        .join(dedupVerdict.select(col("doc_id"), col("dd").as("__dd"),
          col("gate").as("__gate")), Seq("doc_id"), "left")
        .withColumn("__dd", col("__g3") && coalesce(col("__dd"), lit(false)))
      contaminated match {
        case Some(c) => d.join(broadcast(c), Seq("doc_id"), "left")
          .withColumn("__cl", col("__dd") && col("__con").isNull)
          .drop("__con")
        case None => d.withColumn("__cl", col("__dd"))
      }
    }
    val excised = if (spanExcise) exciseSpans(gated, batchKey) else gated
    val budgeted = budgetPerSource match {
      case None => excised.withColumn("__bk", col("__cl"))
      case Some(budget) => withinBudget(excised, budget, priorSpend.get)
    }
    val decided = budgeted
      .select(batch.columns.map(col).toSeq ++ Seq(
        when(!col("__g1"), lit("holdout_excluded"))
          .when(!col("__g2"), lit("quality_gate"))
          .when(!col("__g3"), lit("repetition_filter"))
          .when(col("__bk"), lit("admitted"))
          .when(col("__cl"), lit("budget_rejected"))
          .when(col("__dd"), lit("decontaminated"))
          .otherwise(lit("near_dup")).as("__decision"),
        when(!col("__g3") || col("__bk"), lit(null).cast("string"))
          .when(col("__cl"), lit("budget"))
          .when(col("__dd"), lit("eval_gram"))
          .otherwise(col("__gate")).as("__gate")): _*)
      .transform(pinShared)
    Decision(decided, posts, holdoutGrams, priorSpend, ledgerExists)
  }

  /** The holdout docs' eval grams, pinned: word 4-grams (grain `g4`, the
    * `q_decontaminate` unit) with `decontaminate`, sliding 10-word anchors
    * (grain `a10`) with `spanDecontaminate`. Held-out docs never enter the
    * corpus; their grams are the batch's durable evidence. */
  private def holdoutGramsOf(batch: DataFrame): DataFrame = {
    val holdoutDocs = batch.filter(col("source").isin(holdoutSources: _*))
    val g4 = Llm.gram4Rows(holdoutDocs.select(col("doc_id"), col("text")))
      .select("gram").distinct().withColumn("grain", lit("g4"))
    val a10 = holdoutDocs.select(anchors10).distinct().withColumn("grain", lit("a10"))
    ((decontaminate, spanDecontaminate) match {
      case (true, true) => g4.unionByName(a10)
      case (true, false) => g4
      case _ => a10
    }).transform(pinShared)
  }

  /** `(doc_id, __con)` for every admittable doc whose grams hit the eval
    * set: the stored eval grams (all keys but this batch's) plus this
    * batch's own holdout grams, so same-batch contamination gates too.
    * Each grain's doc-side unit matches its own eval rows. Contamination
    * is per doc, so it is tested over every admittable doc and counts only
    * for dedup survivors: no dependency on the dedup verdict. */
  private def contamination(admittable: DataFrame, holdoutGrams: DataFrame,
                            batchKey: String): DataFrame = {
    val storedGrams = evalGrams.readCommitted(admittable.sparkSession, Some(batchKey))
      .fold(holdoutGrams.limit(0))(_.select("gram", "grain"))
    val evalG = storedGrams.unionByName(holdoutGrams).distinct()
      .transform(pinShared)
    def hits(grain: String, on: Boolean, docGrams: => DataFrame) =
      if (!on) admittable.select("doc_id").limit(0)
      else docGrams
        .join(evalG.filter(col("grain") === grain).select("gram"),
          Seq("gram"), "left_semi")
        .select("doc_id")
    val docFrame = admittable.select(col("doc_id"), col("text"))
    hits("g4", decontaminate, Llm.gram4Rows(docFrame))
      .unionByName(hits("a10", spanDecontaminate,
        docFrame.select(col("doc_id"), anchors10)))
      .distinct()
      .withColumn("__con", lit(true))
  }

  /** `(source, t0)`: per-source cumulative spend before this batch. One
    * bounded ledger read; a replay is recognized by both the batch id and
    * the lineage matching the recorded high-water mark, and its own
    * already-folded delta rolls back, while an id collision from another
    * lineage (a fresh-checkpoint restart) keeps accumulating. The first
    * activation of the budget over an existing corpus seeds the prior from
    * the published corpus (a one-time O(corpus) pass, folded into the
    * ledger by the first publish). */
  private def priorSpendOf(batch: DataFrame, batchId: Long,
                           ledgerExists: Boolean): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    if (ledgerExists) {
      val t = Warehouse.readCurrent(spark, budgetDir)
      // a ledger without the last_lineage column reads as unknown lineage
      // and never rolls back: over-counting is the budget-safe direction
      val hwm = t.select(max(col("last_batch_id")),
        (if (t.columns.contains("last_lineage")) first(col("last_lineage"))
         else first(lit(null.asInstanceOf[String]))).as("ll")).head()
      val isReplay = !hwm.isNullAt(0) && batchId == hwm.getLong(0) &&
        !hwm.isNullAt(1) && BatchKeyed.queryId(spark) == hwm.getString(1)
      val base =
        if (isReplay) col("cum_tokens") - col("last_delta")
        else col("cum_tokens")
      t.select(col("source"), base.as("t0"))
    } else if (BucketedTable.exists(corpusDir)) {
      BucketedTable.readCurrent(spark, corpusDir)
        .join(batch.select("doc_id"), Seq("doc_id"), "left_anti")
        .groupBy("source")
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("t0"))
    } else Seq.empty[(String, Long)].toDF("source", "t0")
  }

  /** Span excision of the clean (`__cl`) docs' text against the corpus's
    * stored anchors (all keys but this batch's) and earlier occurrences in
    * the batch; the budget then counts the words actually published. */
  private def exciseSpans(gated: DataFrame, batchKey: String): DataFrame = {
    val spark = gated.sparkSession
    import spark.implicits._
    val stored = spanAnchors.readCommitted(spark, Some(batchKey))
      .fold(Seq.empty[String].toDF("gram"))(_.select("gram"))
    val cut = Llm.exciseIncremental(
        gated.filter(col("__cl")).select("doc_id", "text"), stored)
      .select(col("doc_id"), col("text").as("__excised"))
    gated.join(cut, Seq("doc_id"), "left")
      .withColumn("text", when(col("__cl"), col("__excised")).otherwise(col("text")))
      .drop("__excised")
  }

  /** `__bk`: clean and within budget. Admission follows the batch query's
    * seeded-hash order (md5 of doc_id, `q_source_budget` parity): a clean
    * doc's spend is its source's prior plus the running sum of the clean
    * docs up to it in that order. A budget-rejected doc is not published
    * and not indexed, so a later budget raise can still admit it. */
  private def withinBudget(excised: DataFrame, budget: Long,
                           prior: DataFrame): DataFrame = {
    val w = Window.partitionBy("source").orderBy("__h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    excised
      .withColumn("__h", md5(col("doc_id").cast("string")))
      .withColumn("__tok", when(col("__cl"),
        size(split(col("text"), " ")).cast("long")).otherwise(lit(0L)))
      .join(broadcast(prior), Seq("source"), "left")
      .withColumn("__bk", col("__cl") &&
        coalesce(col("t0"), lit(0L)) + sum(col("__tok")).over(w) <= budget)
      .drop("__h", "__tok", "t0")
  }

  /** PUBLISH: every effect of the decision as ONE concurrent set of Spark
    * jobs ([[org.apache.spark.sql.GraftSqlBridge.concurrently]]), then the
    * dedup postings. Each effect writes its own table and reads only the
    * pinned decision frame (the corpus commit also reads the corpus's own
    * buckets), and keeps its own internal order:
    *   - the decision log (`auditDir`) under this batch's key;
    *   - the eval-gram commit: this batch's holdout grams, even when it
    *     admits nothing, since every later batch must gate against them;
    *   - the span-anchor commit: the published docs' surviving anchors, so
    *     the stored set always describes the corpus as published;
    *   - the corpus commit: only novel survivors' [[BucketedTable]] buckets
    *     rewrite; untouched buckets carry over by manifest reference;
    *   - the LSH posting and SQ8 appends
    *     ([[AnnIndex.appendLsh]], [[AnnIndex.appendSq8]]) under this
    *     batch's key;
    *   - the IVF unit (seed, assign, append, IVF-PQ, drift flag);
    *   - the budget ledger fold (atomic manifest publish).
    * The set ends only when every effect has ended: a failure in one
    * surfaces after the others finish, so no effect of a failed batch is
    * still writing when the stream stops or retries it.
    *
    * The survivors' posting rows ([[IncrementalDedup.commitPostings]])
    * land only after the whole set succeeded. A batch that failed part way
    * leaves no postings, so a fresh-checkpoint restart (a new lineage,
    * whose gate sees every other lineage's postings) can still admit its
    * docs. Returns whether this batch seeded the IVF model. */
  def publish(decision: Decision, batchId: Long, batchKey: String): Boolean = {
    val kept = decision.kept
    val spark = kept.sparkSession
    val docCols = kept.drop("embedding")
      .withColumn(BucketedTable.BucketCol, BucketedTable.bucketExpr(Seq("doc_id"), nBuckets))
    val (candBuckets, nKept) = bucketsAndCount(docCols)
    val vecs = kept.select(col("doc_id").as("vec_id"), col("embedding"))
    val admits = nKept > 0
    val lineage = budgetPerSource.map(_ => BatchKeyed.queryId(spark))
    val publishSet: Seq[() => Any] =
      auditDir.map(ad => () => auditLog(ad).write(decision.log, Some(batchKey))).toSeq ++
        decision.holdoutGrams.map(g =>
          () => if (!g.isEmpty) evalGrams.write(g, Some(batchKey))) ++
        Option.when(spanExcise)(() => {
          val anchors = kept.select(anchors10).distinct()
          if (!anchors.isEmpty) spanAnchors.write(anchors, Some(batchKey))
        }) ++
        Option.when(admits)(() => commitCorpus(kept, docCols, candBuckets)) ++
        Option.when(admits)(() => AnnIndex.appendLsh(vecs, lshDir,
          AnnIndex.LshBands, AnnIndex.LshBits, Some(batchKey))) ++
        sq8Dir.filter(_ => admits).map(d =>
          () => AnnIndex.appendSq8(vecs, d, Some(batchKey))) ++
        ivfDir.filter(_ => admits).map(d => () => publishIvf(vecs, d, nKept, batchKey)) ++
        Option.when(budgetPerSource.nonEmpty && (admits || !decision.ledgerExists))(
          () => commitLedger(kept, decision.priorSpend.get, batchId, lineage.get))
    // the IVF unit is the one effect with a value
    val ivfSeeded = GraftSqlBridge.concurrently(spark)(publishSet: _*)
      .collectFirst { case seeded: Boolean => seeded }.getOrElse(false)
    if (admits)
      IncrementalDedup.commitPostings(
        decision.posts.join(broadcast(kept.select("doc_id")), Seq("doc_id"),
          "left_semi"),
        dedupDir, Some(batchKey))
    ivfSeeded
  }

  /** Fold the admitted per-source delta into the ledger. Runs even for an
    * all-rejected batch when the ledger does not exist yet: that
    * materializes the one-time corpus-derived seed, so later batches read
    * O(|sources|) rows. The stored `last_delta`/`last_batch_id`/
    * `last_lineage` let a replay roll its own contribution back out. The
    * seed's corpus read resolved its files when the prior was built and
    * excludes this batch's docs, so the concurrent corpus commit cannot
    * change it. */
  private def commitLedger(kept: DataFrame, prior: DataFrame, batchId: Long,
                           lineage: String): Unit = {
    val delta = kept
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
      .groupBy("source").agg(sum("n_tok").as("d"))
    val totals = prior.join(delta, Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("t0"), lit(0L)) + coalesce(col("d"), lit(0L)))
          .as("cum_tokens"),
        coalesce(col("d"), lit(0L)).as("last_delta"),
        lit(batchId).as("last_batch_id"),
        lit(lineage).as("last_lineage"))
    // an empty batch over an empty prior has nothing to record: a row-less
    // ledger's high-water-mark read would have nothing to aggregate
    if (!totals.isEmpty)
      Warehouse.publish(budgetDir,
        dir => totals.coalesce(1).write.mode("overwrite").parquet(dir))
  }

  /** The corpus commit: admitted docs an earlier attempt of this batch
    * already published are not novel, and only the novel docs' buckets
    * rewrite. The novel pin is lazy: the bucket pass computes every
    * partition, so it materializes the pin in its own job. */
  private def commitCorpus(kept: DataFrame, docCols: DataFrame,
                           candBuckets: Seq[Int]): Unit = {
    val B = BucketedTable.BucketCol
    val existing =
      if (BucketedTable.exists(corpusDir))
        BucketedTable.readBuckets(kept.sparkSession, corpusDir, candBuckets,
          empty = kept.drop("embedding").limit(0))
      else kept.drop("embedding").limit(0)
    val novel = docCols
      .join(existing.select("doc_id"), Seq("doc_id"), "left_anti")
      .transform(pinLazy)
    val (touched, _) = bucketsAndCount(novel)
    if (touched.nonEmpty) {
      val out = existing
        .withColumn(B, BucketedTable.bucketExpr(Seq("doc_id"), nBuckets))
        .filter(col(B).isin(touched: _*))
        .unionByName(novel)
      BucketedTable.commit(corpusDir, nBuckets, touched,
        dir => out.write.mode("overwrite").partitionBy(B).parquet(dir))
    }
  }

  /** The IVF unit, in order: the first admitting batch seeds the centroid
    * model ([[AnnIndex.ensureIvfSeeded]]; centroids only, so batch 0's rows
    * enter through the keyed append and replay exactly-once too); every
    * batch assigns against the current snapshot's frozen centroids, once
    * for both the lists and the composite's codes, and appends with
    * [[AnnIndex.appendIvf]]'s write-then-clean hygiene (idempotent even
    * when a retrain moved the replay's assignment); the IVF-PQ composite
    * bootstraps from the current lists (backfilling a pre-existing corpus)
    * and encodes against its frozen books; last, the drift flag adds the
    * appended row count. Returns whether this batch seeded the model. */
  private def publishIvf(vecs: DataFrame, d: String, nKept: Long,
                         batchKey: String): Boolean = {
    val seeded = AnnIndex.ensureIvfSeeded(vecs, d, ivfNlist)
    // persisted: with the composite, both appends evaluate it
    val assigned = AnnIndex.assignIvfLists(vecs, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      AnnIndex.appendIvf(assigned, d, Some(batchKey))
      ivfPqDir.foreach { pd =>
        AnnIndex.ensureIvfPqFromLists(vecs.sparkSession, d, pd, pqM, pqK)
        AnnIndex.appendIvfPq(assigned, d, pd, Some(batchKey))
      }
      // a crash-replay recounts its own batch (the rows stay exactly-once);
      // over-counting only retrains marginally earlier
      val pending = retrainPending(d)
      GraftFs.default.writeString(pending, (readPendingCount(pending) + nKept).toString)
    } finally assigned.unpersist(false)
    seeded
  }

  /** MAINTAIN: the cadence that bounds the stream's on-disk growth.
    * Without it every micro-batch leaves a superseded `_budget` ledger
    * version, superseded corpus bucket versions and one `batch_id=`
    * fragment per index table, all O(batches), and a pruned probe's
    * file-open cost grows with the batch count.
    *   - `vacuumEvery = n` reclaims superseded corpus bucket versions and
    *     ledger snapshots every n-th batch. It runs first.
    *   - `compactEvery = m` folds the per-batch fragments (LSH bands, SQ8,
    *     dedup postings, the two gram tables, the IVF lists and IVF-PQ
    *     codes) into their `batch_id=-1` base every m-th batch, as one
    *     concurrent set, the IVF tables as one sequential unit beside the
    *     others (each table keeps one writer at a time).
    *   - `ivfRetrainEvery = r` re-fits the whole lists corpus every r-th
    *     batch ([[AnnIndex.retrainIvf]], then [[AnnIndex.retrainIvfPq]]),
    *     published as one atomic (centroids, lists) generation that also
    *     batch-folds, and replacing that batch's IVF compaction. A cadence
    *     batch retrains only when the drift flag is set (appends landed
    *     since the last retrain) and never on the batch that seeded the
    *     model (`seededThisBatch`). `ivfRetrainMinGrowth = f` retrains only
    *     once the appended rows reach fraction f of the pre-growth corpus.
    * This batch is not yet checkpointed, so its own key is preserved by
    * every fold: a crash-replay's reads must still skip its partitions.
    * Every earlier batch of the lineage is checkpoint-committed, so
    * folding those is the quiet-window contract of [[Compaction]]. Each
    * rewrite lands as a complete sibling generation behind an atomic
    * pointer, with one retired generation kept for concurrent probes, so a
    * probe racing maintenance resolves a complete snapshot and a crash
    * leaves the old generation current. With both cadences 0 (the
    * default), run the [[Compaction]] and vacuum helpers externally during
    * a quiet window. */
  def maintain(spark: SparkSession, batchId: Long, batchKey: String,
               seededThisBatch: Boolean): Unit = {
    if (vacuumEvery > 0 && batchId % vacuumEvery == 0) {
      if (BucketedTable.exists(corpusDir)) BucketedTable.vacuum(corpusDir)
      if (GraftFs.default.exists(s"$budgetDir/_CURRENT"))
        Warehouse.vacuum(budgetDir)
    }
    val compactNow = compactEvery > 0 && batchId % compactEvery == 0
    val preserve = Set(batchKey)
    def existsTbl(p: String) = Compaction.tableExists(p)
    def compact(t: BatchKeyed) = Compaction.compactBatchKeyed(spark, t, preserve)
    // every batch-keyed table but the IVF pair, one compaction each
    val keyedTables =
      Seq(AnnIndex.lshTable(lshDir)) ++
        sq8Dir.map(AnnIndex.sq8Table) ++
        Seq(IncrementalDedup.postingsTable(dedupDir)) ++
        Option.when(anyDecon)(evalGrams) ++
        Option.when(spanExcise)(spanAnchors)
    val compactions: Seq[() => Any] =
      if (!compactNow) Nil
      else keyedTables.filter(t => existsTbl(t.root)).map(t => () => compact(t))
    // the IVF lists and the IVF-PQ codes: one sequential unit, since the
    // codes follow the lists
    def compactIvf(): Unit = {
      (ivfDir.map(AnnIndex.listsTable) ++ ivfPqDir.map(AnnIndex.codesTable))
        .filter(t => existsTbl(t.root)).foreach(compact)
      // the codes' `_lists_gen` sidecar still names the retired lists
      // generation: realign it, or composite probes would serve a frozen
      // corpus view until the next codes publish
      for (d <- ivfDir; pd <- ivfPqDir
           if existsTbl(s"$d/lists") && existsTbl(s"$pd/codes"))
        AnnIndex.realignListsGenSidecar(d, pd)
    }
    // the composite retrains after the IVF publish it mirrors; the drift
    // flag clears only after both, so a crash leaves it set and the next
    // cadence batch retries (the seeded fit over the same corpus converges
    // on the same pair)
    def retrainIvfModel(d: String): Unit = {
      AnnIndex.retrainIvf(spark, d, ivfNlist, preserveBatchKeys = preserve)
      ivfPqDir
        .filter(pd => existsTbl(s"$pd/codes"))
        .foreach(pd => AnnIndex.retrainIvfPq(spark, d, pd, pqM, pqK))
      GraftFs.default.deleteIfExists(retrainPending(d))
    }
    val ivfMaintenance: Option[() => Any] =
      if (!seededThisBatch && retrainDue(spark, batchId))
        ivfDir.filter(d => existsTbl(s"$d/lists")).map(d => () => retrainIvfModel(d))
      else Option.when(compactNow && ivfDir.nonEmpty)(() => compactIvf())
    GraftSqlBridge.concurrently(spark)(compactions ++ ivfMaintenance: _*)
    ()
  }

  /** A cadence batch with the drift flag set and, under
    * `ivfRetrainMinGrowth`, enough rows appended since the last retrain
    * (the corpus size is one parquet-footer count, paid only then). */
  private def retrainDue(spark: SparkSession, batchId: Long): Boolean =
    ivfRetrainEvery > 0 && batchId % ivfRetrainEvery == 0 &&
      ivfDir.exists { d =>
        val p = retrainPending(d)
        GraftFs.default.exists(p) && (ivfRetrainMinGrowth <= 0 || {
          val appended = readPendingCount(p)
          appended <= 0L || !Compaction.tableExists(s"$d/lists") || {
            val corpus = AnnIndex.readLists(spark,
              Compaction.currentPath(s"$d/lists")).count()
            appended.toDouble >= ivfRetrainMinGrowth * math.max(1L, corpus - appended)
          }
        })
      }
}

object CorpusIngest {

  /** A micro-batch's decision ([[CorpusIngest.decide]]): the pinned
    * decision `frame`, the batch's near-dup posting rows (`posts`), its
    * pinned holdout grams, the prior per-source spend and whether the
    * budget ledger existed. */
  final case class Decision(frame: DataFrame, posts: DataFrame,
                            holdoutGrams: Option[DataFrame],
                            priorSpend: Option[DataFrame],
                            ledgerExists: Boolean) {

    /** The admitted docs, in the batch's own columns. */
    lazy val kept: DataFrame =
      frame.filter(col("__decision") === "admitted").drop("__decision", "__gate")

    /** One `(doc_id, decision, gate)` row per batch doc. */
    def log: DataFrame =
      frame.select(col("doc_id"), col("__decision").as("decision"),
        col("__gate").as("gate"))
  }

  /** The admission decision log at `dir`. Read it back with a plain
    * `spark.read.parquet(dir)`. */
  private def auditLog(dir: String): BatchKeyed =
    BatchKeyed(dir, "doc_id BIGINT, decision STRING, gate STRING, batch_id STRING")

  /** A doc's sliding 10-word anchors (the `q_substring_dedup` unit), one
    * `gram` row each. */
  private def anchors10: Column =
    explode(call_function("word_ngrams", split(col("text"), " "), lit(10))).as("gram")

  /** The IVF drift flag: set by every append with the cumulative appended
    * row count since the last retrain, cleared by a completed retrain. */
  private def retrainPending(ivfDir: String): String = s"$ivfDir/_GRAFT_RETRAIN_PENDING"

  /** The drift flag's payload. Absent or unparsable reads as 0, which the
    * growth gate treats as unknown growth and retrains (the conservative
    * direction). One parser for the increment and the gate. */
  private def readPendingCount(p: String): Long = {
    val fs = GraftFs.default
    if (!fs.exists(p)) 0L
    else scala.util.Try(fs.readString(p).trim.toLong).getOrElse(0L)
  }

  /** A frame's distinct corpus buckets and its row count in one job and
    * no exchange: each partition reports its own distinct buckets and
    * count, so at most (partitions × buckets) ints reach the driver. */
  private def bucketsAndCount(df: DataFrame): (Seq[Int], Long) = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = df.select(col(BucketedTable.BucketCol)).as[Int].mapPartitions { it =>
      val seen = scala.collection.mutable.Set.empty[Int]
      var n = 0L
      it.foreach { b => seen += b; n += 1 }
      Iterator((seen.toSeq, n))
    }.collect()
    (parts.flatMap(_._1).distinct.sorted.toSeq, parts.map(_._2).sum)
  }
}
