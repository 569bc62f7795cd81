package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues,
  TTLConfig, ValueState}

import graft.queries.Exprs.{moneySum, pinShared}

/** Typed event row for the custom-state operators (schema of the `events`
  * table; top-level so Encoders derive cleanly). */
case class UserEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                     event_type: String, value: Double)

/** Emitted state of [[Streams.runningUserTotals]]. */
case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

/** Per-user funnel progress emitted by [[Streams.funnelTws]]: epoch-micros
  * of each reached stage (-1 = not reached), `stage_reached` mirrors the
  * batch `q_event_funnel` encoding. */
case class FunnelProgress(user_id: Long, t_signup: Long, t_view: Long,
                          t_purchase: Long, stage_reached: Int)

/** Input row of [[Streams.sourceBudgetTws]] — a doc arriving at ingest with
  * its token count already metered (whitespace proxy or the
  * [[graft.functions.Bpe]] real count; the gate is unit-agnostic). */
case class DocTokens(doc_id: Long, source: String, n_tokens: Long)

/** Admission decision emitted by [[Streams.sourceBudgetTws]] — mirrors the
  * batch `q_source_budget` audit columns. */
case class BudgetAdmission(doc_id: Long, source: String, n_tokens: Long,
                           cum_tokens: Long, kept: Boolean)

/** Closed session emitted by [[Streams.sessionTimeoutTws]] when a user's
  * inactivity timer fires (epoch-micros bounds, event count). */
case class SessionSummary(user_id: Long, start_us: Long, end_us: Long,
                          n_events: Long)

/** Open-session state of [[Streams.sessionTimeoutTws]]. */
case class SessionAgg(start_us: Long, last_us: Long, n: Long)

/** Structured Streaming wrappers (SURVEY.md §2.10): the stream-native forms
  * of the CDC/event-time semantics in [[graft.queries.Cdc]]. Each takes a
  * DataFrame that may be batch (`spark.read`) or streaming (`readStream` /
  * MemoryStream) — the bodies are identical in both modes, which is exactly
  * how batch oracle coverage transfers to streaming (the driver's DuckDB
  * oracle can only check batch output; stream-mode behavior — watermark
  * late-drop, session merging, within-watermark dedup — is asserted in
  * StreamingSpec via MemoryStream).
  *
  * Scale notes: watermarks bound the state store (windows older than the
  * watermark are evicted); `session_window` state merges per key; dedup
  * state is keyed by id and likewise watermark-bounded — all prerequisites
  * for running these unbounded on a real cluster.
  */
object Streams {

  /** Tumbling per-hour, per-type aggregation with a watermark: append-mode
    * emits a window only once the watermark passes its end, and events
    * arriving later than `delay` past the window are dropped. */
  def tumblingCounts(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
              col("n_events"), col("sum_value"))

  /** Sliding windows on a stream (the streaming twin of Cdc.qSlidingWindow):
    * 2-hour windows every hour with a watermark; append mode emits each
    * overlapping window once the watermark passes its end. */
  def slidingCounts(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
              col("n_events"), col("sum_value"))

  /** Continuous heavy-hitters monitoring: the Misra–Gries sketch
    * ([[graft.expr.MisraGriesAgg]]) as a streaming GLOBAL aggregation —
    * the trending-tokens / hot-keys dashboard over an unbounded stream.
    * The state store holds exactly ONE k-bounded buffer (the same mergeable
    * summary the batch `q_heavy_hitters` uses for its candidate pass), so
    * state stays O(k) forever regardless of stream length or vocabulary —
    * the property that makes a frequency monitor runnable unbounded where
    * a per-word streaming count would grow state without limit. Complete
    * output mode: each micro-batch emits the current sketch. */
  def streamingWordSketch(words: DataFrame, k: Int): DataFrame = {
    val mg = udaf(new graft.expr.MisraGriesAgg(k))
    words.agg(mg(col("word")).as("sketch"))
  }

  /** OPS SURFACE — read a streaming checkpoint's STATE STORE as a batch
    * table (Spark 4's `statestore` data source): the answer to "what is the
    * job holding in state right now?" without instrumenting the query.
    * Keys/values come back as typed structs (`key`, `value`,
    * `partition_id`), read DISTRIBUTED from the checkpoint's state files —
    * no driver collect, so auditing a 100-TB job's state is itself a Spark
    * job (reconcile against emitted output, find the skewed key bloating a
    * session store, check watermark eviction actually bounds state).
    * Defaults read the latest committed batch of operator 0; pass
    * `batchId` for time travel to any retained batch, `storeName` /
    * `joinSide` for multi-store operators (stream-stream joins), and
    * `stateVarName` for a `transformWithState` processor's named variable
    * (custom state reads back as a typed table like any built-in store).
    * StreamingSpec reconciles a live window-aggregation state against the
    * emitted windows: state ∪ emitted = every window seen, disjointly —
    * the eviction-bounds-state contract, proven from the outside. */
  def stateStoreDump(spark: SparkSession, checkpointDir: String,
                     operatorId: Long = 0L, batchId: Option[Long] = None,
                     storeName: Option[String] = None,
                     joinSide: Option[String] = None,
                     stateVarName: Option[String] = None): DataFrame = {
    var r = spark.read.format("statestore").option("operatorId", operatorId)
    batchId.foreach(b => r = r.option("batchId", b))
    storeName.foreach(s => r = r.option("storeName", s))
    joinSide.foreach(s => r = r.option("joinSide", s))
    stateVarName.foreach(s => r = r.option("stateVarName", s))
    r.load(checkpointDir)
  }

  /** [[stateStoreDump]]'s discovery half: the checkpoint's operator/store
    * metadata (operator ids and names, store names, partition counts, the
    * retained min/max batch ids) — what to pass to the state read, plus the
    * state-cleanup audit (`numColsPrefixKey`, batch retention) for free. */
  def stateMetadata(spark: SparkSession, checkpointDir: String): DataFrame =
    spark.read.format("state-metadata").load(checkpointDir)

  /** Native session windows (the streaming twin of Cdc.qSessionWindow's
    * gaps-and-islands batch form): sessions close after `gap` inactivity. */
  def sessionized(events: DataFrame, gap: String = "30 minutes",
                  delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("sum_value"))
      .select(col("user_id"),
              col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("n_events"), col("sum_value"))

  /** Stateful streaming dedup: drops rows whose `event_id` was already seen
    * within the watermark horizon (exactly-once ingest of an at-least-once
    * CDC feed). */
  def dedupedWithinWatermark(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom keyed state via `mapGroupsWithState` (SURVEY.md §2.10): a
    * per-user running (count, sum) that survives across micro-batches in the
    * state store — the shape for state machines the built-in window/session
    * operators can't express. Works identically on a batch Dataset (state
    * spans the single "batch"). Update output mode; state is per-key and
    * constant-size, so the store stays bounded by |users| at any scale. */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[UserEvent], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(user, 0L, 0.0))
          var n = prev.n_events
          var total = prev.total_value
          evs.foreach { e => n += 1; total += e.value }
          val next = UserTotals(user, n, total)
          state.update(next)
          next
      }
  }

  /** Per-user totals as a [[StatefulProcessor]] for `transformWithState` —
    * the Spark 4 arbitrary-state API (successor to mapGroupsWithState):
    * typed named state handles, TTL support, timers. State is one
    * [[UserTotals]] per key in the state store (RocksDB provider required
    * in streaming mode), so the store is bounded by |users|. */
  class RunningTotalsProcessor
      extends StatefulProcessor[Long, UserEvent, UserTotals] {
    @transient private var totals: ValueState[UserTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals](
        "totals", Encoders.product[UserTotals], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[UserEvent],
                                 timerValues: TimerValues): Iterator[UserTotals] = {
      val prev = Option(totals.get()).getOrElse(UserTotals(user, 0L, 0.0))
      var n = prev.n_events
      var total = prev.total_value
      rows.foreach { e => n += 1; total += e.value }
      val next = UserTotals(user, n, total)
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** [[runningUserTotals]] rebuilt on `transformWithState` — identical
    * semantics, new-API form (StreamingSpec asserts both agree). */
  def runningUserTotalsTws(events: Dataset[UserEvent]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** The sequential conversion funnel (batch twin: `Cdc.qEventFunnel`) as a
    * `transformWithState` STATE MACHINE — real-time stage tracking where
    * each stage's window opens at the previous stage's event: signup opens
    * the funnel, the first view strictly after the recorded signup advances
    * it, the first purchase strictly after the recorded view completes it.
    * State is one fixed-size [[FunnelProgress]] per user (bounded by
    * |users| forever); each micro-batch emits the keys whose stage
    * advanced. Events may arrive across micro-batches — the recorded
    * timestamps persist, which is exactly what the batch equi-join + min
    * aggregation formulation computes on the full history.
    *
    * Caveat vs batch: within the stream, rows are processed in arrival
    * order per micro-batch; the parity spec feeds time-ordered batches
    * (the at-least-once CDC contract upstream ingest provides via
    * [[dedupedWithinWatermark]] + source ordering). */
  class FunnelProcessor
      extends StatefulProcessor[Long, UserEvent, FunnelProgress] {
    @transient private var st: ValueState[FunnelProgress] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[FunnelProgress](
        "funnel", Encoders.product[FunnelProgress], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[UserEvent],
                                 timerValues: TimerValues): Iterator[FunnelProgress] = {
      var cur = Option(st.get()).getOrElse(FunnelProgress(user, -1L, -1L, -1L, 0))
      val before = cur
      // Full-precision epoch micros: getTime alone is milli-resolution and
      // would truncate the ingest format's .SSSSSS fraction — two funnel
      // events inside the same millisecond would compare equal under the
      // strict `us > prev` advancement checks where the batch twin (full
      // timestamp comparison) advances. getNanos carries the sub-second
      // part exactly.
      def micros(ts: java.sql.Timestamp): Long =
        Math.floorDiv(ts.getTime, 1000) * 1000000L + ts.getNanos / 1000
      rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
        val us = micros(e.ts)
        e.event_type match {
          case "signup" if cur.t_signup < 0 =>
            cur = cur.copy(t_signup = us, stage_reached = 1)
          case "view" if cur.t_signup >= 0 && cur.t_view < 0 && us > cur.t_signup =>
            cur = cur.copy(t_view = us, stage_reached = 2)
          case "purchase" if cur.t_view >= 0 && cur.t_purchase < 0 && us > cur.t_view =>
            cur = cur.copy(t_purchase = us, stage_reached = 3)
          case _ => ()
        }
      }
      if (cur == before) Iterator.empty
      else { st.update(cur); Iterator.single(cur) }
    }
  }

  /** `Cdc.qEventFunnel` driven as a stream: emits a user's funnel progress
    * whenever a micro-batch advances it. */
  def funnelTws(events: Dataset[UserEvent]): Dataset[FunnelProgress] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** STREAMING ANN serving — the online half of the retrieval story: a
    * stream of probe vectors (a training batch, a query feed) is answered
    * per micro-batch through the PERSISTED IVF index via the batch probe
    * core ([[graft.queries.LlmKnn.knnIvfBatchProbe]] — one centroid ranking +
    * one pruned union scan + list-equality scoring per micro-batch), so
    * serving cost scales with the batch's probed lists, never the corpus.
    * The index is never touched by the serving path; ingest appends to it
    * independently ([[corpusIngest]]) and each micro-batch probes whatever
    * index state is current. `ivfPqDir` upgrades the batch to the IVF-PQ
    * COMPOSITE serve core ([[graft.queries.LlmKnn.knnIvfPqBatchServe]]):
    * ADC scoring over m-byte codes in the probed lists with an exact
    * re-rank fetched partition-pruned from the same lists snapshot —
    * the 100 TB scan-bandwidth shape, served straight off the tables
    * [[corpusIngest]] maintains.
    *
    * At-least-once safety: results land under the batch's key
    * ([[graft.etl.BatchKeyed$ BatchKeyed]]) as a `batch_id=` partition
    * with overwrite, so a replayed micro-batch rewrites its own partition
    * instead of appending duplicates — readers see each batch's answers exactly once — and a
    * fresh-checkpoint restart (batch numbering restarting at 0) lands
    * under new keys instead of silently deleting the prior run's served
    * answers.
    *
    * The probe micro-batch is collected to the driver (it parameterizes
    * the centroid ranking — bounded metadata math, the same shape as the
    * batch query's probe set), which is bounded BY CONTRACT, not just by
    * design: at most `maxProbesPerBatch + 1` rows are ever fetched
    * (`limit` before `collect`), and a batch over the limit fails the
    * stream with an explicit error instead of silently OOMing the driver
    * or dropping probes. A probe feed that can legitimately burst past
    * the cap should aggregate its source into smaller triggers (or raise
    * the cap alongside driver memory).
    *
    * RETENTION CONTRACT: `outDir` grows one `batch_id=`
    * partition per micro-batch BY DESIGN — these are the stream's OUTPUT
    * (served answers with provenance), not maintained state, so no
    * compaction may ever fold or rewrite their `batch_id` values (a
    * replayed batch must still find exactly its own partition to
    * overwrite). Ownership of reclamation is the DOWNSTREAM consumer's:
    * drain and delete consumed partitions ([[dropServedBatches]]), or
    * treat `outDir` as a TTL'd landing zone. Unlike the `_budget` ledger
    * and the index tables — engine-owned state with an in-stream
    * maintenance cadence — an output queue's retention is a consumer
    * policy no sink can decide. */
  def annServe(probes: DataFrame, ivfDir: String, outDir: String,
               k: Int = 5, nprobe: Int = 4,
               maxProbesPerBatch: Int = 10000,
               ivfPqDir: Option[String] = None,
               oversample: Int = 8): DataStreamWriter[Row] =
    probes.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // a serve-only process may never have run an ingest/query path that
        // registered the codegen functions the probe cores score with —
        // knnIvfBatchProbe's cosine_similarity has no registration of its
        // own (the composite core registers pq_adc itself); idempotent
        graft.expr.GraftFunctions.ensureRegistered(spark)
        val ps = batch.select("probe_id", "embedding")
          .limit(maxProbesPerBatch + 1).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        if (ps.size > maxProbesPerBatch)
          throw new IllegalStateException(
            s"annServe: probe micro-batch exceeds maxProbesPerBatch=" +
              s"$maxProbesPerBatch; shrink the trigger or raise the cap")
        if (ps.nonEmpty) {
          val key = graft.etl.BatchKeyed.key(spark, batchId)
          // ivfPqDir routes the batch through the COMPOSITE serve core:
          // ADC-coarse over m-byte codes in the probed lists, exact
          // re-rank fetched partition-pruned from the same lists snapshot
          val answers = ivfPqDir match {
            case Some(pd) => graft.queries.LlmKnn.knnIvfPqBatchServe(
              spark, ivfDir, pd, ps, k, nprobe, oversample)
            case None =>
              graft.queries.LlmKnn.knnIvfBatchProbe(spark, ivfDir, ps, k, nprobe)
          }
          withServeEnvelope(answers, ps.map(_._1))
            .write.mode("overwrite")
            .parquet(s"$outDir/batch_id=$key")
        }
        ()
    }

  /** The SERVING ENVELOPE: every [[annServe]] answer row
    * carries `n_candidates` — how many rows this probe's serve actually
    * returned (saturates at k; `< k` means the pruned candidate set was
    * SMALLER than k, which on the pruned/quantized families is a
    * legitimate outcome: the measured distribution-level per-probe MIN
    * recall floors for LSH/PQ are 0–1, so a probe may truthfully return
    * almost nothing) — and a probe whose candidate set was EMPTY emits
    * ONE explicit row (null vec_id/label/cos_sim, n_candidates=0) instead
    * of silently vanishing from the output. Consumers that need
    * guaranteed-k answers threshold on this column and re-probe with a
    * wider net (higher nprobe/oversample, or the sq8 full-scan rung).
    * The answers frame is TopKPerGroup output (≤ probes·k rows), so the
    * envelope is a bounded window + anti-join over already-small data —
    * the serve's scan plan is untouched. */
  private[graft] def withServeEnvelope(answers: DataFrame,
                                       probeIds: Seq[Long]): DataFrame = {
    val spark = answers.sparkSession
    import spark.implicits._
    // pin: the bounded answers feed both the window pass and the
    // starved-probe anti-join — unpinned, the serve plan would execute twice
    val served = answers.withColumn("n_candidates",
        count(lit(1)).over(Window.partitionBy("probe_id")))
      .transform(pinShared)
    val starved = probeIds.toDF("probe_id")
      .join(served.select("probe_id"), Seq("probe_id"), "left_anti")
      .withColumn("vec_id", lit(null).cast("long"))
      .withColumn("label", lit(null).cast("int"))
      .withColumn("cos_sim", lit(null).cast("double"))
      .withColumn("n_candidates", lit(0L))
    served.unionByName(starved)
  }

  /** The consumer-side drain for [[annServe]]'s output queue: delete the
    * named `batch_id=` partitions after their answers are consumed.
    * Consumer discipline: only drain keys whose batch is durably past the
    * stream's checkpoint (in practice: anything but the newest key per
    * lineage) — draining a batch that then crash-replays loses nothing
    * (the replay rewrites its partition whole) but re-serves answers the
    * consumer already processed. Returns the number dropped. */
  def dropServedBatches(outDir: String, batchKeys: Seq[String]): Int = {
    val fs = graft.GraftFs.default
    batchKeys.count { k =>
      graft.etl.BatchKeyed.check(k)
      val d = s"$outDir/batch_id=$k"
      if (!fs.isDirectory(d)) false
      else { fs.deleteRecursively(d); true }
    }
  }

  /** The batch `q_source_budget` mixture gate as a STREAMING admission
    * control (`transformWithState`): every arriving doc consumes its token
    * count from its source's running total and is admitted while the
    * cumulative stays within budget — the ingest-time enforcement of
    * "≤ N tokens from source X" that the batch query audits after the
    * fact. State is ONE long per source (bounded by |sources| forever).
    *
    * Ordering semantics: within a micro-batch, docs are admitted in the
    * batch query's seeded-hash order (md5 of doc_id — recomputed here with
    * the identical formula, so a single-batch replay of a corpus emits
    * EXACTLY `q_source_budget`'s rows: the parity spec); across
    * micro-batches, arrival order governs — the honest streaming
    * semantics, where an ingest gate cannot reorder the future. Rejected
    * docs still consume budget (the batch prefix rule: `kept ⇔
    * cum ≤ budget` with cum accumulating every doc). */
  class SourceBudgetProcessor(budget: Long)
      extends StatefulProcessor[String, DocTokens, BudgetAdmission]
      with Serializable {
    @transient private var cum: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cum = getHandle.getValueState[Long]("cum", Encoders.scalaLong, TTLConfig.NONE)

    private def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }

    override def handleInputRows(source: String, rows: Iterator[DocTokens],
                                 timerValues: TimerValues): Iterator[BudgetAdmission] = {
      var c = if (cum.exists()) cum.get() else 0L
      val out = rows.toSeq.sortBy(d => md5hex(d.doc_id.toString)).map { d =>
        c += d.n_tokens
        BudgetAdmission(d.doc_id, source, d.n_tokens, c, c <= budget)
      }
      cum.update(c)
      out.iterator
    }
  }

  /** [[graft.queries.LlmMix.qSourceBudget]] driven as a stream — one admission
    * row per arriving doc. */
  def sourceBudgetTws(docs: Dataset[DocTokens],
                      budget: Long = 1000L): Dataset[BudgetAdmission] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.source)
      .transformWithState(new SourceBudgetProcessor(budget),
        TimeMode.None(), OutputMode.Update())
  }

  /** Stream-stream inner join with event-time range bound: each purchase
    * joins the same user's signups at most `gap` earlier (the FactWatches
    * ACTV→CNCL pairing, both sides unbounded). The watermarks plus the
    * range condition let Spark evict joined state — signup state older
    * than watermark−gap and purchase state older than watermark are
    * dropped — so both state stores stay bounded on unbounded streams;
    * without the time bound the signup side would be retained forever. */
  def pairedWithinWindow(signups: DataFrame, purchases: DataFrame,
                         gap: String = "1 hour",
                         delay: String = "10 minutes"): DataFrame = {
    val s = signups.withWatermark("ts", delay)
      .select(col("user_id").as("s_user"), col("event_id").as("signup_id"),
              col("ts").as("signup_ts"))
    val p = purchases.withWatermark("ts", delay)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
              col("ts").as("purchase_ts"))
    s.join(p,
        col("s_user") === col("p_user") &&
        col("purchase_ts") >= col("signup_ts") &&
        col("purchase_ts") <= col("signup_ts") + expr(s"interval $gap"))
      .select(col("s_user").as("user_id"), col("signup_id"), col("purchase_id"),
              col("signup_ts"), col("purchase_ts"))
  }

  /** foreachBatch upsert sink: folds every micro-batch into a parquet
    * "current state" table as latest-per-key (the TPC-DI incremental-batch
    * dimension upsert, stream-driven). The state lives in a
    * [[graft.etl.BucketedTable]] — hash-bucketed on the key — and each
    * micro-batch rewrites ONLY the buckets its keys land in: untouched
    * buckets carry over into the new snapshot by manifest reference, so
    * per-batch write cost is O(batch + touched-bucket bytes), never
    * O(table) — the append-files MERGE a transactional format makes, not a
    * full republish. The commit stays ONE atomic pointer rename (a reader
    * sees entirely-old or entirely-new state, never a mix). Replay is
    * naturally idempotent: latest-per-key of the same batch against the
    * same buckets rewrites identical content. Superseded bucket versions
    * accumulate until `BucketedTable.vacuum(statePath)`: pass
    * `vacuumEvery = n` to reclaim them in-line every n-th batch (runs on
    * the sink's own thread after the commit — no writer race), or leave 0
    * and vacuum externally when readers pin older versions for time
    * travel. */
  def upsertToParquet(stream: DataFrame, statePath: String, keyCols: Seq[String],
                      seqCol: String, nBuckets: Int = 64,
                      vacuumEvery: Int = 0): DataStreamWriter[Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        upsertBatch(batch, statePath, keyCols, seqCol, nBuckets)
        if (vacuumEvery > 0 && batchId % vacuumEvery == 0 &&
            graft.etl.BucketedTable.exists(statePath))
          graft.etl.BucketedTable.vacuum(statePath)
        ()
    }

  /** One micro-batch of the bucketed Type-1 fold (the [[upsertToParquet]]
    * body, exposed for direct spec/property testing): reduce the batch to
    * latest-per-key, read ONLY the touched buckets, re-fold, commit. */
  def upsertBatch(batch: DataFrame, statePath: String, keyCols: Seq[String],
                  seqCol: String, nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val B = graft.etl.BucketedTable.BucketCol
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)
    val latest = batch
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .withColumn(B, graft.etl.BucketedTable.bucketExpr(keyCols, nBuckets))
      .transform(pinShared)
    // bounded driver metadata: at most nBuckets distinct ids
    val touched = latest.select(B).distinct().collect().map(_.getInt(0)).toSeq
    if (touched.nonEmpty) {
      val existing =
        if (graft.etl.BucketedTable.exists(statePath))
          graft.etl.BucketedTable.readBuckets(spark, statePath, touched,
            empty = batch.limit(0))
        else batch.limit(0)
      val merged = existing.unionByName(latest.drop(B))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn")
        .withColumn(B, graft.etl.BucketedTable.bucketExpr(keyCols, nBuckets))
      graft.etl.BucketedTable.commit(statePath, nBuckets, touched,
        dir => merged.write.mode("overwrite").partitionBy(B).parquet(dir))
    }
  }

  /** EVENT-TIME TIMERS — the `transformWithState` capability the other
    * processors don't exercise: a per-user inactivity session that EMITS ON
    * TIMEOUT. The built-in `session_window` ([[sessionized]]) merges
    * windows declaratively; this processor demonstrates the imperative
    * form — custom state plus registered event-time timers that fire when
    * the WATERMARK passes last-activity + gap — which is what
    * alerting/expiry semantics (abandon-cart triggers, state TTL with
    * side-output) need and the declarative form can't express.
    *
    * Correctness under lateness: sessions close ONLY when their timer
    * fires, i.e. when the watermark proves no admissible event can still
    * extend or backfill them — never inline on an in-batch gap (a late
    * event inside the watermark may yet bridge the gap or precede the
    * recorded start, so state keeps a LIST of open sessions and every
    * batch re-coalesces events ∪ sessions with full interval-merge
    * semantics: min-start, max-last, bridged sessions fuse). This is the
    * same session-merging contract as the declarative form, with the
    * emission moved to the timer.
    *
    * Bounds: open sessions per user = 1 + (gaps not yet past the
    * watermark) — transient by construction; one timer per open session;
    * firing removes the session, so steady-state is bounded by ACTIVE
    * users, not all users ever seen. */
  class SessionTimeoutProcessor(gapMs: Long)
      extends StatefulProcessor[Long, UserEvent, SessionSummary] {
    @transient private var st: ListState[SessionAgg] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getListState[SessionAgg](
        "sessions", Encoders.product[SessionAgg], TTLConfig.NONE)

    /** Interval-merge: sort by start, fuse neighbors whose gap ≤ gapMs. */
    private def coalesce(xs: Seq[SessionAgg]): Seq[SessionAgg] =
      xs.sortBy(s => (s.start_us, s.last_us)).foldLeft(List.empty[SessionAgg]) {
        case (acc, s) => acc match {
          case h :: t if s.start_us - h.last_us <= gapMs * 1000L =>
            SessionAgg(h.start_us, math.max(h.last_us, s.last_us), h.n + s.n) :: t
          case _ => s :: acc
        }
      }.reverse

    private def rearmTimers(sessions: Seq[SessionAgg]): Unit = {
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      sessions.foreach(s => getHandle.registerTimer(s.last_us / 1000L + gapMs))
    }

    override def handleInputRows(user: Long, rows: Iterator[UserEvent],
                                 timerValues: TimerValues): Iterator[SessionSummary] = {
      val singletons = rows.map { e =>
        val tUs = e.ts.getTime * 1000L
        SessionAgg(tUs, tUs, 1)
      }.toSeq
      val merged = coalesce(st.get().toSeq ++ singletons)
      st.put(merged.toArray)
      rearmTimers(merged)
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[SessionSummary] = {
      // close every session the firing watermark has sealed (last + gap ≤
      // expiry); keep the rest open — their own timers remain registered
      val (done, open) = st.get().toSeq
        .partition(s => s.last_us / 1000L + gapMs <= info.getExpiryTimeInMs())
      if (open.isEmpty) st.clear() else st.put(open.toArray)
      done.sortBy(_.start_us).iterator
        .map(s => SessionSummary(user, s.start_us, s.last_us, s.n))
    }
  }

  /** [[SessionTimeoutProcessor]] wired: watermarked event stream →
    * per-user timeout sessions in append mode. */
  def sessionTimeoutTws(events: Dataset[UserEvent], gapMinutes: Long = 30,
                        delay: String = "10 minutes"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimeoutProcessor(gapMinutes * 60L * 1000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** One micro-batch of the STREAMING TYPE-2 fold (exposed for the sink and
    * for direct spec-testing of replay semantics): the batch is FIRST
    * reduced to its latest record per key (the same winner
    * `applyCdcHistorized` would pick), and only then anti-joined against
    * the history on (key, eff) — a winner whose version is already
    * historized is a replay and folds to a no-op. Ordering matters: a
    * per-record guard BEFORE the reduction would let a superseded record
    * (whose eff was never historized) survive a replay, win the reduction,
    * and corrupt the history with an inverted interval — reduce-then-guard
    * makes the replayed batch reduce to the exact record the original fold
    * historized. Replayed deletes need no guard: re-end-dating an already
    * closed version is naturally a no-op. (Contrast the Type-1
    * [[upsertToParquet]], where latest-per-key alone is idempotent.) The
    * fold itself is the spec-proven [[graft.etl.Scd2.applyCdcHistorized]]
    * (close open versions, append new ones, deletes end-date without
    * successor). */
  /** CONTRACT (eff-grain uniqueness): the replay guard identifies a batch
    * winner as "already folded" by its (key, eff) pair alone — the history
    * does not retain the CDC sequence number, so a NEW change that reuses
    * an effective timestamp already historized for its key (a same-eff
    * correction with a higher seq and different attributes) cannot be
    * folded: a correction must carry a fresh eff (the natural CDC
    * discipline — a correction IS a later change) or be applied through an
    * offline history rebuild. The contract is ASSERTED, not merely
    * documented: a non-delete batch winner matching history on
    * (key, eff) with DIFFERING non-envelope attributes raises instead of
    * silently no-opping as a presumed replay — silent data loss becomes a
    * loud error. A true replay (identical attributes) still folds to a
    * no-op; the check is one extra equi-join against the (touched-bucket-
    * bounded) history slice per micro-batch. */
  def scd2FoldBatch(history: DataFrame, batch: DataFrame, keyCols: Seq[String],
                    seqCol: String, flagCol: String, effCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol).desc)
    val latest = batch
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    // eff-grain contract assert: a same-(key, eff) history match must be a
    // byte-identical replay. Deletes are exempt — re-end-dating is naturally
    // idempotent and a delete's attribute payload is envelope noise.
    val attrCols = latest.columns
      .filterNot(c => keyCols.contains(c) || c == seqCol || c == flagCol ||
        c == effCol)
      .filter(history.columns.contains)
    if (attrCols.nonEmpty) {
      val joinCond = (keyCols :+ effCol)
        .map(k => col(s"b.$k") === col(s"h.$k")).reduce(_ && _)
      val differs = attrCols
        .map(c => !(col(s"b.$c") <=> col(s"h.$c"))).reduce(_ || _)
      val conflicts = latest.filter(col(flagCol) =!= "D").alias("b")
        .join(history.alias("h"), joinCond)
        .filter(differs)
        .select(keyCols.map(k => col(s"b.$k")) :+ col(s"b.$effCol"): _*)
        .limit(3).collect()
      if (conflicts.nonEmpty)
        throw new IllegalStateException(
          "scd2 eff-grain contract violated: batch carries a change whose " +
            "(key, eff) is already historized with DIFFERENT attributes — " +
            "a same-eff correction is indistinguishable from a replay and " +
            "would silently fold to a no-op. Give the correction a fresh " +
            "effective timestamp (a correction IS a later change) or apply " +
            s"it via an offline history rebuild. Sample (key, eff): " +
            conflicts.map(_.toString).mkString("; "))
    }
    val fresh = latest.join(
      history.select((keyCols.map(col) :+ col(effCol)): _*),
      keyCols :+ effCol, "left_anti")
    graft.etl.Scd2.applyCdcHistorized(history, fresh, keyCols, seqCol, flagCol, effCol)
  }

  /** STREAMING TYPE-2 HISTORIZATION — TPC-DI's incremental dimension
    * maintenance driven as a stream: each micro-batch of CDC records
    * (I/U/D + sequence + effective time) folds into the persisted versioned
    * history via [[scd2FoldBatch]]. The history lives in a
    * [[graft.etl.BucketedTable]] hash-bucketed on the dimension key, and a
    * micro-batch folds and rewrites ONLY the buckets its keys land in —
    * the history of every untouched key carries over by manifest reference
    * (a Type-2 fold never moves a key between buckets, so the touched-set
    * is exactly the batch's key buckets). Per-batch cost is O(batch +
    * touched-bucket history), never O(history) — the TPC-DI incremental
    * update story at dimension scale. The commit stays one atomic pointer
    * rename (readers see entirely-old or entirely-new history). The
    * (key, eff) replay guard in the fold makes a re-delivered micro-batch
    * rewrite identical bucket content, so the sink is exactly-once in
    * effect on at-least-once delivery (see [[scd2FoldBatch]]'s eff-grain
    * contract). Versioned-history invariants (interval tiling, exactly one
    * open version per key) are [[graft.etl.Scd2]]'s property-tested
    * contract; StreamingSpec asserts stream-final == sequential batch folds
    * and that untouched bucket files survive a commit byte-identically. */
  def scd2Sink(cdc: DataFrame, statePath: String, keyCols: Seq[String],
               seqCol: String, flagCol: String, effCol: String = "eff",
               nBuckets: Int = 64, vacuumEvery: Int = 0): DataStreamWriter[Row] =
    cdc.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        scd2ApplyBatch(batch, statePath, keyCols, seqCol, flagCol, effCol, nBuckets)
        if (vacuumEvery > 0 && batchId % vacuumEvery == 0 &&
            graft.etl.BucketedTable.exists(statePath))
          graft.etl.BucketedTable.vacuum(statePath)
        ()
    }

  /** One micro-batch of the bucketed Type-2 fold (the [[scd2Sink]] body,
    * exposed for direct spec/property testing): fold the batch into ONLY
    * its keys' history buckets via [[scd2FoldBatch]] and commit them. */
  def scd2ApplyBatch(batch: DataFrame, statePath: String, keyCols: Seq[String],
                     seqCol: String, flagCol: String, effCol: String,
                     nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val B = graft.etl.BucketedTable.BucketCol
    val bb = batch
      .withColumn(B, graft.etl.BucketedTable.bucketExpr(keyCols, nBuckets))
      .transform(pinShared)
    val touched = bb.select(B).distinct().collect().map(_.getInt(0)).toSeq
    if (touched.nonEmpty) {
      val empty = batch.drop(seqCol, flagCol)
        .withColumn("end", col(effCol))
        .withColumn("is_current", lit(true))
        .limit(0)
      val history =
        if (graft.etl.BucketedTable.exists(statePath))
          graft.etl.BucketedTable.readBuckets(spark, statePath, touched, empty)
        else empty
      val next = scd2FoldBatch(history, bb.drop(B), keyCols, seqCol, flagCol, effCol)
        .withColumn(B, graft.etl.BucketedTable.bucketExpr(keyCols, nBuckets))
      graft.etl.BucketedTable.commit(statePath, nBuckets, touched,
        dir => next.write.mode("overwrite").partitionBy(B).parquet(dir))
    }
  }

  /** CONTINUOUS CORPUS INGEST: the streaming curation funnel over
    * `docs`, one [[graft.etl.CorpusIngest]] micro-batch per trigger —
    * decide, publish, maintain. The parameters are that type's fields; its
    * scaladoc and each stage's describe the gates, the effects, the
    * at-least-once story and the maintenance cadences. */
  def corpusIngest(docs: DataFrame, dedupDir: String, lshDir: String,
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
                   spanExcise: Boolean = false)
      : DataStreamWriter[Row] =
    graft.etl.CorpusIngest(dedupDir, lshDir, corpusDir, sq8Dir, budgetPerSource,
      nBuckets, vacuumEvery, compactEvery, imageCol, audioCol, videoCol, ivfDir,
      ivfNlist, ivfRetrainEvery, ivfPqDir, pqM, pqK, ivfRetrainMinGrowth,
      auditDir, holdoutSources, qualityGate, repetitionGate, decontaminate,
      spanDecontaminate, spanExcise).writer(docs)
}
