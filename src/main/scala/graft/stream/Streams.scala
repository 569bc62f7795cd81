package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, OutputMode, StatefulProcessor, TimeMode, TimerValues,
  TTLConfig, ValueState}

import graft.queries.Exprs.{moneySum, pinLazy, pinShared}

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

  /** The `_GRAFT_RETRAIN_PENDING` drift flag's payload: the cumulative
    * appended-row count since the last retrain. Absent/legacy-empty/
    * unparsable reads as 0 — which the growth gate treats as UNKNOWN
    * growth and retrains (the conservative direction). One parser for
    * both the increment and the gate, so the format cannot skew. */
  private def readPendingCount(p: String): Long = {
    val fs = graft.GraftFs.default
    if (!fs.exists(p)) 0L
    else scala.util.Try(fs.readString(p).trim.toLong).getOrElse(0L)
  }

  /** CONTINUOUS CORPUS INGEST — the end-to-end composition of the engine's
    * incremental pieces, each individually spec-proven, as one foreachBatch
    * pipeline: documents arrive as a stream →
    *
    *   1. DECIDE. The near-dup gate ([[graft.etl.IncrementalDedup.gateBatch]])
    *      dedups the batch against the posting index and within itself
    *      (O(batch) work, banded equi-joins, never all-pairs) — EXCLUDING
    *      the batch's own `batch_id` posting partition, so a replay
    *      recomputes against the exact pre-batch index state and re-derives
    *      the original survivor set deterministically. With `imageCol` /
    *      `audioCol` / `videoCol` set, decodable image/audio/video payloads
    *      ALSO post their perceptual fingerprint bands through the same
    *      machinery (disjoint band namespaces: 1000+ image, 2000+ audio,
    *      3000+ video), so cross-batch media near-dups are gated exactly
    *      like text minhash dups. The optional mixture-budget gate reads
    *      prior per-source spend from the COMPACTED ledger at
    *      `corpusDir/_budget` — O(|sources|) rows per batch, never an
    *      O(corpus) re-aggregation. Every gate lands in one pinned decision
    *      frame (below).
    *   2. PUBLISH, as ONE concurrent set of Spark jobs
    *      ([[org.apache.spark.sql.GraftSqlBridge.concurrently]]): each
    *      effect writes its own table and reads only the pinned decision
    *      frame, so none waits on another, and each keeps its own internal
    *      order. The set is the decision log (`auditDir`), the eval-gram
    *      and span-anchor commits, the corpus commit (only NOVEL survivors'
    *      [[graft.etl.BucketedTable]] buckets rewrite; untouched buckets
    *      carry over by manifest reference under the same atomic-pointer
    *      read contract), the LSH posting and SQ8 appends
    *      ([[graft.etl.AnnIndex.appendLsh]], [[graft.etl.AnnIndex.appendSq8]])
    *      under this batch's `batch_id=` partition, the IVF unit (seed,
    *      assign, append, IVF-PQ, drift flag, in that order) and the budget
    *      ledger fold (atomic manifest publish; the stored
    *      `last_delta`/`last_batch_id` pair lets a replayed batch roll its
    *      own contribution back out before re-deciding — see the gate).
    *      The set ends only when EVERY effect has ended: a failure in one
    *      surfaces after the others finish (the first failure in
    *      submission order, the rest suppressed), so no effect of a failed
    *      batch is still writing when the stream stops or retries it.
    *   3. POSTINGS LAST: [[graft.etl.IncrementalDedup.commitPostings]]
    *      lands the survivors' posting rows under `batch_id=` only after
    *      the whole set succeeded. A batch that failed part-way therefore
    *      leaves no postings behind, and a fresh-checkpoint restart — a new
    *      lineage, whose gate sees every other lineage's postings — can
    *      still admit its docs.
    *
    * At-least-once story: foreachBatch may replay a batch after a crash at
    * ANY point in 2–3. Because the gate excludes the batch's own posting
    * partition, the replay's survivor set is IDENTICAL to the original
    * run's regardless of which effects landed — and every effect is then
    * an idempotent rewrite: the corpus commit no-ops (no novel docs) or
    * rewrites the same buckets, the LSH/SQ8/IVF/posting writes overwrite
    * their own `batch_id=` partitions with identical content, and the
    * ledger rollback re-derives the same totals. No duplicates, no loss,
    * and no stage can un-publish a doc a reader already saw.
    *
    * ONE DECISION FRAME per micro-batch: the gates run as a single plan
    * over the near-dup gate's pinned postings and are pinned ONCE — one
    * row per batch doc with its decision (admitted / holdout_excluded /
    * quality_gate / repetition_filter / near_dup / decontaminated /
    * budget_rejected), its deciding gate and the doc as it would publish.
    * Every effect is a projection or filter of that frame: the kept set,
    * the decision log, the ledger delta, the corpus commit, the index
    * appends and the posting commit; only corpus bucket ids (and the kept
    * count) are collected. Nothing is re-derived by joins over
    * per-stage frames, so an append micro-batch runs a few dozen Spark
    * jobs rather than one per cascade stage. Idempotence is keyed on the
    * batch key ([[graft.etl.BatchKeyed$ BatchKeyed]]): a true replay
    * overwrites exactly its own partitions and rolls back exactly its own
    * ledger delta (the ledger records the key's query id), while a
    * fresh-checkpoint restart (batch ids restarting at 0) writes under new
    * keys and accumulates onto the ledger without ever touching a prior
    * lineage's data. The LSH index has a fixed shape
    * ([[graft.etl.AnnIndex.LshBands]] bands of
    * [[graft.etl.AnnIndex.LshBits]] bits), and each maintenance publish
    * keeps one retired generation for concurrent probes (the
    * `graceGenerations` default of [[graft.etl.Compaction]]).
    *
    * Maintenance: `vacuumEvery = n` reclaims superseded corpus bucket
    * versions and `_budget` ledger snapshots every n-th batch;
    * `compactEvery = m` folds the accumulated per-batch `batch_id=`
    * index fragments (LSH bands, SQ8 table, dedup postings, the two gram
    * tables, the IVF lists and IVF-PQ codes) into their `batch_id=-1` base
    * every m-th batch — preserving the in-flight batch's own partitions
    * for replay safety (see the in-line note). The vacuum runs first; the
    * per-table compactions then run as one concurrent set through the same
    * helper as the publish stage, the IVF tables (compaction or retrain)
    * as one sequential unit beside the others.
    * With both set, steady-state on-disk footprint is O(live data +
    * cadence·batch), not O(batches); with both 0 (the default), run the
    * spec-proven [[graft.etl.Compaction]] / vacuum helpers externally
    * during a quiet window. StreamingSpec asserts the bounded-growth
    * claim empirically.
    *
    * `ivfDir = Some(dir)` additionally rides the TRAINABLE rung of the ANN
    * ladder on the stream: the first admitting batch seeds a centroid model
    * ([[graft.etl.AnnIndex.ensureIvfSeeded]] — centroids only, capped at
    * the batch size), every batch's survivors enter via batch-keyed
    * [[graft.etl.AnnIndex.appendIvf]] (whose cell-drop hygiene keeps
    * replays exactly-once even when the model moved between attempts), and
    * `ivfRetrainEvery = r` re-clusters the whole lists corpus to `ivfNlist`
    * centroids every r-th batch — the model-DRIFT maintenance frozen-
    * centroid assignment defers, published as one atomic (centroids,
    * lists) generation that also batch-folds like a compaction. A cadence
    * batch only retrains when appends landed since the last retrain (a
    * persistent drift flag — re-clustering an unchanged corpus would
    * republish an identical model at full O(corpus) cost) and never on the
    * batch that seeded the model. `ivfRetrainMinGrowth = f` strengthens
    * the gate further: a cadence batch re-clusters only once the rows
    * appended since the last retrain reach fraction f of the pre-growth
    * corpus (the "retrain after +10% data" heuristic — the flag carries
    * the running count). The `compactEvery` cadence covers the
    * IVF lists' layout on the batches a retrain doesn't run.
    *
    * CURATION GATES (streaming/batch funnel parity): the stream rejects
    * the documents the batch funnel ([[graft.etl.CorpusPipeline]])
    * rejects, at admission rather than in a later batch re-curation.
    * Opt-in parameters, each reusing the funnel's OWN shared predicate/gram definitions so the two
    * paths cannot drift (StreamingSpec proves one-batch admission ≡
    * `CorpusPipeline.curate` row-for-row, decisions ≡ `q_curation_audit`
    * drop stages):
    *   - `holdoutSources`: docs from these sources never enter the corpus
    *     (the funnel's stage-1 holdout exclusion);
    *   - `qualityGate`: map-side [[graft.queries.LlmText.qualityZ]] ≥ 0
    *     (stage 2) — fused into the batch scan, zero extra shuffles;
    *   - `repetitionGate`: the Gopher repetition rules via
    *     [[graft.queries.LlmText.withRepetitionMetrics]] (stage 3);
    *   - `decontaminate`: dedup survivors sharing any word 4-gram
    *     ([[graft.queries.Llm.gram4Rows]]) with the held-out eval set are
    *     rejected (stage 6). The eval grams PERSIST in a batch-keyed
    *     posting table at `corpusDir/_eval_grams` — the same
    *     replay/compaction discipline as the dedup postings — so
    *     contamination evidence accumulates across the stream's life and
    *     each batch's check is O(batch) probe work, never a corpus scan;
    *   - `spanDecontaminate`: the SPAN-GRAIN twin — the
    *     eval table additionally stores the holdout docs' SLIDING 10-word
    *     anchors (the `q_substring_dedup` unit, grain="a10" rows beside
    *     the 4-gram grain="g4" rows), and a dedup survivor whose own
    *     sliding anchors hit any stored/in-batch holdout anchor is
    *     rejected — verbatim-passage evidence at ANY offset (what
    *     whole-doc MinHash structurally misses), at far higher precision
    *     than the 4-gram scrub; each grain gates only against its own
    *     rows, the two knobs compose, audit gate stays `eval_gram`.
    *   - `spanExcise`: the ingest-side ACTION, not a gate — words of an
    *     admitted doc that verbatim-duplicate a sliding 10-word anchor already in the published
    *     corpus (or an earlier occurrence in the same batch) are EXCISED
    *     before publication, the streaming counterpart of
    *     `q_substring_excise` ([[graft.queries.Llm.exciseIncremental]]).
    *     A transform, not a gate: no doc drops (a fully-excised doc
    *     publishes empty text; its near-dup postings — computed on the
    *     ORIGINAL text — still gate future copies). The corpus's anchor
    *     grams persist batch-keyed at `corpusDir/_span_anchors` (the
    *     _eval_grams replay/compaction discipline), the batch's probe is
    *     an O(batch) gram-keyed semi-join, and the budget counts the
    *     words actually published.
    * Gate order matches the funnel: holdout → quality → repetition →
    * near-dup → decontaminate → span-excise → budget; rejected docs
    * consume no budget and are never indexed.
    *
    * `auditDir = Some(dir)` writes the ADMISSION DECISION LOG — one row
    * per batch doc naming the decision (admitted / holdout_excluded /
    * quality_gate / repetition_filter / near_dup / decontaminated /
    * budget_rejected) AND the deciding `gate`: for
    * a near_dup the MODALITY whose band collided (`text` / `image` /
    * `audio` / `video`, or `exact` for the signature-less content-hash
    * sentinel — lowest implicated namespace when several collide), for a
    * budget rejection `budget`, null for admitted docs. Batch-keyed and
    * replay-idempotent like every other effect: the streaming twin of
    * `q_curation_audit`'s per-doc explainability ("why isn't my doc in
    * the corpus?" now answers WHICH dedup gate said no).
    *
    * `ivfPqDir` (requires `ivfDir`) extends the lifecycle to the IVF-PQ
    * COMPOSITE — the production two-model layout: codebooks seed from the
    * first admitting batch, every batch encodes against the frozen
    * (centroids, books) snapshot pair through the keyed write-then-clean
    * append, the retrain cadence republishes the composite right after the
    * IVF publish it mirrors, and the compaction cadence batch-coalesces
    * the per-list code fragments on the batches in between.
    *
    * Why the FLAT-PQ index deliberately does NOT ride the stream: its
    * codes table stores only m-byte codes, so an in-stream
    * [[graft.etl.AnnIndex.retrainPq]] would have no raw vectors to
    * re-encode from — a streaming flat PQ would need its own shadow
    * vector table, which is exactly what the composite's IVF lists
    * already are (plus partition pruning). A pipeline that wants
    * streamed quantized scans without the second model takes `sq8Dir`
    * (data-independent, no retrain to run); one that wants PQ takes the
    * composite. */
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
      : DataStreamWriter[Row] = {
    // the composite's coarse half IS the IVF index: list assignment,
    // partition pruning, and the retrain corpus all come from its lists
    require(ivfPqDir.isEmpty || ivfDir.nonEmpty,
      "ivfPqDir requires ivfDir — the IVF-PQ composite assigns, prunes and " +
        "retrains through the paired IVF index's lists")
    // the eval-gram table is sourced ONLY from
    // holdout-source documents — decontamination with no holdout sources
    // would persist an empty gram table and gate nothing, silently
    // ignoring the caller's request
    require(!(decontaminate || spanDecontaminate) || holdoutSources.nonEmpty,
      "decontaminate/spanDecontaminate require holdoutSources — the " +
        "eval-gram posting table is derived solely from holdout-source " +
        "documents, so an empty holdout set would make decontamination a " +
        "silent no-op")
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val BT = graft.etl.BucketedTable
        val B = BT.BucketCol
        val BK = graft.etl.BatchKeyed
        val lineage = BK.queryId(spark)
        val batchKey = BK.key(spark, batchId)
        // the gates below call registered codegen functions (word_ngrams
        // for the span-grain gate; the index appends' cosine) — idempotent
        graft.expr.GraftFunctions.ensureRegistered(spark)
        // the two batch-keyed gram tables this body keeps beside the corpus
        val evalGrams =
          BK(s"$corpusDir/_eval_grams", "gram STRING, grain STRING, batch_id STRING")
        val anyDecon = decontaminate || spanDecontaminate
        val spanAnchors = BK(s"$corpusDir/_span_anchors", "gram STRING, batch_id STRING")
        // ── MAP-SIDE CURATION GATES (streaming/batch funnel parity).
        // The batch funnel (CorpusPipeline) runs holdout-exclusion, the
        // quality score and the Gopher repetition rules BEFORE any dedup
        // work; a streamed ingest must not admit documents that funnel
        // would reject, and the cheap per-row gates belong at admission
        // (they shrink the batch before the posting-index joins, exactly
        // the cheap-gates-first ordering the batch pipeline documents).
        // The predicates are the SAME shared Column definitions the batch
        // funnel fuses into its scan (LlmText.qualityZ /
        // withRepetitionMetrics) — parity by construction, and
        // StreamingSpec asserts the one-batch admission set equals
        // CorpusPipeline.curate row-for-row. All gates default OFF.
        val anyMapGate = holdoutSources.nonEmpty || qualityGate || repetitionGate
        // per-doc gate flags, cumulative like the batch funnel's s1..s3
        // (g1 holdout, g2 quality, g3 repetition), as columns on the batch
        // rows themselves (the batch's own columns ride in a struct, so no
        // name of theirs can clash with the metric columns). A null
        // predicate fails its gate. Row-local expressions, no pin: they
        // evaluate inside the dedup gate's pin (its input filter) and the
        // decision pin below.
        val flagged = if (!anyMapGate)
            batch.withColumn("__g1", lit(true)).withColumn("__g2", lit(true))
              .withColumn("__g3", lit(true))
          else {
            val base = graft.queries.LlmText.withRepetitionMetrics(
              batch.select(struct(batch.columns.map(col).toSeq: _*).as("__doc"),
                col("text"), split(col("text"), " ").as("words")))
            val g1 =
              if (holdoutSources.nonEmpty)
                coalesce(!col("__doc.source").isin(holdoutSources: _*), lit(false))
              else lit(true)
            val g2 = g1 && (
              if (qualityGate) coalesce(
                graft.queries.LlmText.qualityZ(col("text"), col("words")) >= 0,
                lit(false))
              else lit(true))
            val g3 = g2 && (
              if (repetitionGate)
                coalesce(col("n_words") >= 2 && !col("flagged"), lit(false))
              else lit(true))
            base.select(col("__doc.*") +:
              Seq(g1.as("__g1"), g2.as("__g2"), g3.as("__g3")): _*)
          }
        val admittable = flagged.filter(col("__g3")).select(batch.columns.map(col).toSeq: _*)
        // held-out eval docs never enter the corpus; with `decontaminate`
        // their word 4-grams feed the persisted eval-gram posting table
        // (the same gram unit as q_decontaminate / the batch funnel —
        // Llm.gram4Rows — so the contamination contract cannot drift).
        // `spanDecontaminate` adds the SLIDING 10-WORD
        // ANCHOR grain — the q_substring_dedup unit — under grain="a10"
        // in the SAME table: a 10-gram hit is verbatim-passage evidence
        // (an ingested doc embedding a holdout span at ANY offset is
        // caught even when whole-doc MinHash misses it), with far fewer
        // incidental matches than the recall-maximizing 4-gram scrub;
        // the two grains compose and each gates only its own rows.
        val holdoutDocs =
          if (holdoutSources.nonEmpty)
            batch.filter(col("source").isin(holdoutSources: _*))
          else batch.limit(0)
        val holdoutGrams: Option[DataFrame] =
          if (!anyDecon) None
          else {
            val g4 = graft.queries.Llm
              .gram4Rows(holdoutDocs.select(col("doc_id"), col("text")))
              .select("gram").distinct().withColumn("grain", lit("g4"))
            val a10 = holdoutDocs
              .select(explode(call_function("word_ngrams",
                split(col("text"), " "), lit(10))).as("gram"))
              .distinct().withColumn("grain", lit("a10"))
            Some(((decontaminate, spanDecontaminate) match {
              case (true, true) => g4.unionByName(a10)
              case (true, false) => g4
              case _ => a10
            }).transform(pinShared))
          }
        // ── NEAR-DUP GATE: the batch's posting rows pinned once, with the
        // stored-index evidence and the in-batch components; the per-doc
        // verdict (survivor flag + deciding modality) is a lazy frame over
        // that pin, so it lands in the decision frame without a pin of its
        // own
        val (posts, dedupVerdict) = graft.etl.IncrementalDedup.gateBatch(
          admittable, dedupDir, excludeBatchKey = Some(batchKey),
          imageCol = imageCol, audioCol = audioCol, videoCol = videoCol)
        // ── EVAL-GRAM DECONTAMINATION: dedup survivors sharing any
        // word 4-gram with the held-out eval set are rejected at admission
        // — the batch funnel's stage-6 gate, streamed. The gram evidence is
        // a PERSISTED batch-keyed posting table (same replay discipline as
        // the dedup postings: reads exclude this batch's own partition so a
        // crash-replay sees the exact pre-batch state and decides
        // identically), unioned with THIS batch's holdout grams so
        // same-batch contamination gates too. O(batch) probe work: the
        // batch-bounded gram frame semi-joins the gram table — never a
        // corpus re-scan. Contamination is per doc, so it is tested over
        // every admittable doc and only counts for dedup survivors
        // (`__cl` below): the same set as testing the survivors alone, with
        // no dependency on the dedup verdict.
        val contaminated: Option[DataFrame] =
          if (!anyDecon) None
          else Some {
            val storedGrams = evalGrams.readCommitted(spark, Some(batchKey))
              .fold(holdoutGrams.get.limit(0))(_.select("gram", "grain"))
            val evalG = storedGrams.unionByName(holdoutGrams.get).distinct()
              .transform(pinShared)
            // per-grain hit tests: each grain's doc-side unit matches its
            // eval-side unit (4-grams vs g4 rows, sliding 10-gram anchors
            // vs a10 rows) — O(batch) gram frames semi-joined against the
            // bounded eval table, never a corpus re-scan
            val docFrame = admittable.select(col("doc_id"), col("text"))
            val hit4 =
              if (!decontaminate) docFrame.select("doc_id").limit(0)
              else graft.queries.Llm.gram4Rows(docFrame)
                .join(evalG.filter(col("grain") === "g4").select("gram"),
                  Seq("gram"), "left_semi")
                .select("doc_id")
            val hit10 =
              if (!spanDecontaminate) docFrame.select("doc_id").limit(0)
              else docFrame
                .select(col("doc_id"), explode(call_function("word_ngrams",
                  split(col("text"), " "), lit(10))).as("gram"))
                .join(evalG.filter(col("grain") === "a10").select("gram"),
                  Seq("gram"), "left_semi")
                .select("doc_id")
            hit4.unionByName(hit10).distinct()
              .withColumn("__con", lit(true))
          }
        // the admission base: per-source cumulative spend BEFORE this batch.
        // One bounded ledger read; a replay is recognized by BOTH the batch
        // id AND the lineage matching the recorded high-water mark — its
        // own already-folded delta rolls back so the replay decides
        // identically, while an id collision from a DIFFERENT lineage
        // (fresh-checkpoint restart) keeps accumulating. First activation
        // of the budget over a PRE-EXISTING corpus seeds the prior from
        // the published corpus itself (a one-time O(corpus) pass — the
        // first admitting batch folds it into the ledger and every later
        // batch reads O(|sources|) rows).
        val budgetDir = s"$corpusDir/_budget"
        val ledgerExists = graft.GraftFs.default.exists(
          s"$budgetDir/_CURRENT")
        val priorBase: Option[DataFrame] = budgetPerSource.map { _ =>
          if (ledgerExists) {
            val t = graft.etl.Warehouse.readCurrent(spark, budgetDir)
            // a ledger written before the last_lineage column existed reads
            // as unknown-lineage: never roll back (over-counting is the
            // budget-safe direction; a rollback against the wrong lineage
            // would over-admit)
            val hwm = t.select(max(col("last_batch_id")),
              (if (t.columns.contains("last_lineage")) first(col("last_lineage"))
               else first(lit(null.asInstanceOf[String]))).as("ll")).head()
            val isReplay = !hwm.isNullAt(0) && batchId == hwm.getLong(0) &&
              !hwm.isNullAt(1) && lineage == hwm.getString(1)
            val base =
              if (isReplay) col("cum_tokens") - col("last_delta")
              else col("cum_tokens")
            t.select(col("source"), base.as("t0"))
          } else if (BT.exists(corpusDir)) {
            BT.readCurrent(spark, corpusDir)
              .join(batch.select("doc_id"), Seq("doc_id"), "left_anti")
              .groupBy("source")
              .agg(sum(size(split(col("text"), " ")).cast("long")).as("t0"))
          } else Seq.empty[(String, Long)].toDF("source", "t0")
        }
        // ── THE DECISION FRAME: one row per batch doc carrying its gate
        // flags in funnel order — `__dd` near-dup survivor, `__cl` also
        // uncontaminated, `__bk` also within budget — and the doc as it
        // would publish. Built as ONE plan over the dedup pin and pinned
        // ONCE; every effect below (decision log, corpus commit, index
        // appends, ledger delta, posting and anchor commits) is a
        // projection or filter of it.
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
        // ── SPAN-GRAIN EXCISION (the ingest-side ACTION): an admitted doc's
        // words that
        // verbatim-duplicate a sliding 10-word anchor already in the
        // PUBLISHED corpus (or an earlier occurrence in this batch) are
        // excised before publication — the streaming counterpart of
        // q_substring_excise, riding a persisted batch-keyed anchor-gram
        // posting table at `corpusDir/_span_anchors` with the _eval_grams
        // replay discipline (reads exclude this batch's own partition, so
        // a crash-replay decides from the exact pre-batch state). A
        // TRANSFORM, not a gate: no doc is dropped here (a fully-excised
        // doc publishes empty text and its near-dup postings — computed on
        // the ORIGINAL text — still gate future copies of the original).
        // Only the clean docs' text is rewritten; the budget below then
        // counts the words actually published.
        val excised =
          if (!spanExcise) gated
          else {
            val stored = spanAnchors.readCommitted(spark, Some(batchKey))
              .fold(Seq.empty[String].toDF("gram"))(_.select("gram"))
            val cut = graft.queries.Llm.exciseIncremental(
                gated.filter(col("__cl")).select("doc_id", "text"), stored)
              .select(col("doc_id"), col("text").as("__excised"))
            gated.join(cut, Seq("doc_id"), "left")
              .withColumn("text",
                when(col("__cl"), col("__excised")).otherwise(col("text")))
              .drop("__excised")
          }
        // In-batch admission follows the batch query's seeded-hash order
        // (md5 of doc_id — q_source_budget parity): a clean doc's spend is
        // its source's prior plus the running sum of the clean docs up to
        // it in that order (other docs add 0). Budget-rejected docs
        // consume nothing, are not published, and are NOT indexed — their
        // postings never commit, so a later budget raise can still admit
        // them.
        val budgeted = budgetPerSource match {
          case None => excised.withColumn("__bk", col("__cl"))
          case Some(budget) =>
            val w = Window.partitionBy("source").orderBy("__h")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            excised
              .withColumn("__h", md5(col("doc_id").cast("string")))
              .withColumn("__tok", when(col("__cl"),
                size(split(col("text"), " ")).cast("long")).otherwise(lit(0L)))
              .join(broadcast(priorBase.get), Seq("source"), "left")
              .withColumn("__bk", col("__cl") &&
                coalesce(col("t0"), lit(0L)) + sum(col("__tok")).over(w) <= budget)
              .drop("__h", "__tok", "t0")
        }
        // decision = FIRST failing stage in funnel order (the batch
        // audit's drop_stage semantics, streamed): map gates, then the
        // dedup collision gate, then decontamination, then budget; the
        // gate names the deciding mechanism — for a near_dup the MODALITY
        // whose band collided, `eval_gram` for decontamination,
        // `budget` for budget rejections, none for admitted docs and
        // map-gate decisions (which name themselves)
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
        val kept = decided.filter(col("__decision") === "admitted")
          .select(batch.columns.map(col).toSeq: _*)
        // ADMISSION DECISION LOG (optional — the streaming twin of
        // q_curation_audit's explainability): one row per batch doc naming
        // its decision and deciding gate, projected straight off the
        // decision frame and landed under this batch's OWN batch_id
        // partition with dynamic overwrite, so a replay rewrites identical
        // rows (the decisions replay identically) and a fresh lineage lands
        // under new keys: the log is exactly-once like every other effect
        // here. Read it back with a plain spark.read.parquet(auditDir).
        def writeAuditLog(ad: String): Unit =
          BK(ad, "doc_id BIGINT, decision STRING, gate STRING, batch_id STRING")
            .write(decided.select(col("doc_id"), col("__decision").as("decision"),
              col("__gate").as("gate")), Some(batchKey))
        // eval-gram channel commit: this batch's holdout grams land under
        // the batch's OWN `batch_id=` partition (dynamic overwrite — a
        // replay rewrites identical rows; the decontamination read above
        // excludes this key, so the replay decided from pre-batch state).
        // Runs regardless of admission outcome: an all-holdout batch
        // admits nothing, but its grams ARE the batch's durable effect —
        // every later batch must gate against them.
        def commitEvalGrams(g: DataFrame): Unit =
          if (!g.isEmpty) evalGrams.write(g, Some(batchKey))
        // span-anchor channel commit: the PUBLISHED (budget-admitted,
        // post-excision) docs' surviving sliding 10-gram anchors land under
        // this batch's own partition — the stored set always describes the
        // corpus as published, so a future copy of an excised span still
        // hits the first corpus occurrence, which survived. Same dynamic
        // overwrite replay discipline as the eval grams.
        def commitSpanAnchors(): Unit = {
          val anchors = kept
            .select(explode(call_function("word_ngrams",
              split(col("text"), " "), lit(10))).as("gram"))
            .distinct()
          if (!anchors.isEmpty) spanAnchors.write(anchors, Some(batchKey))
        }
        // fold the batch's admitted per-source delta into the ledger. Runs
        // even for an all-rejected batch WHEN the ledger does not exist yet:
        // that materializes the one-time corpus-derived seed, so later
        // batches read O(|sources|) rows instead of re-aggregating the
        // corpus every trigger. Seed-only publishes record this batch as
        // the high-water mark with delta 0 — a replay rolls back 0 and
        // decides identically. The seed's corpus read resolved its files
        // when the prior was built and excludes this batch's docs, so the
        // concurrent corpus commit cannot change it.
        def commitLedger(): Unit = {
          val delta = kept
            .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
            .groupBy("source").agg(sum("n_tok").as("d"))
          val totals = priorBase.get.join(delta, Seq("source"), "full_outer")
            .select(col("source"),
              (coalesce(col("t0"), lit(0L)) + coalesce(col("d"), lit(0L)))
                .as("cum_tokens"),
              coalesce(col("d"), lit(0L)).as("last_delta"),
              lit(batchId).as("last_batch_id"),
              lit(lineage).as("last_lineage"))
          // nothing to record (empty batch over an empty prior): an empty
          // publish would leave a row-less ledger whose high-water-mark
          // read has nothing to aggregate
          if (!totals.isEmpty)
            graft.etl.Warehouse.publish(budgetDir,
              dir => totals.coalesce(1).write.mode("overwrite").parquet(dir))
        }
        // a frame's distinct corpus buckets and its row count in ONE job
        // and no exchange: each partition reports its own distinct buckets
        // and count, so at most (partitions × buckets) ints are collected
        // — bucket ids only, never doc rows
        def bucketsAndCount(df: DataFrame): (Seq[Int], Long) = {
          val parts = df.select(col(B)).as[Int].mapPartitions { it =>
            val seen = scala.collection.mutable.Set.empty[Int]
            var n = 0L
            it.foreach { b => seen += b; n += 1 }
            Iterator((seen.toSeq, n))
          }.collect()
          (parts.flatMap(_._1).distinct.sorted.toSeq, parts.map(_._2).sum)
        }
        val docCols = kept.drop("embedding")
          .withColumn(B, BT.bucketExpr(Seq("doc_id"), nBuckets))
        val (candBuckets, nKept) = bucketsAndCount(docCols)
        val vecs = kept.select(col("doc_id").as("vec_id"), col("embedding"))
        // the corpus commit: admitted docs an earlier attempt of this batch
        // already published (a replay after the corpus commit landed) are
        // not novel; only the novel docs' buckets rewrite. The pin is lazy:
        // the bucket pass below computes every partition, so it
        // materializes the pin in its own job
        def commitCorpus(): Unit = {
          val existing =
            if (BT.exists(corpusDir))
              BT.readBuckets(spark, corpusDir, candBuckets,
                empty = kept.drop("embedding").limit(0))
            else kept.drop("embedding").limit(0)
          val novel = docCols
            .join(existing.select("doc_id"), Seq("doc_id"), "left_anti")
            .transform(pinLazy)
          val (touched, _) = bucketsAndCount(novel)
          if (touched.nonEmpty) {
            val out = existing
              .withColumn(B, BT.bucketExpr(Seq("doc_id"), nBuckets))
              .filter(col(B).isin(touched: _*))
              .unionByName(novel)
            BT.commit(corpusDir, nBuckets, touched,
              dir => out.write.mode("overwrite").partitionBy(B).parquet(dir))
          }
        }
        // the TRAINABLE rung of the ladder, one sequential unit: the first
        // admitting batch seeds the centroid model (centroids only — its
        // rows enter through the keyed append below, so batch 0 replays
        // exactly-once too); every batch then assigns against the current
        // snapshot's frozen centroids, with appendIvf's write-then-clean
        // hygiene making the keyed write idempotent even when a retrain
        // moved the replay's assignment (see its scaladoc). Returns whether
        // THIS batch seeded the model (its clustering is minutes old —
        // retraining it again the same batch is pure waste).
        def publishIvf(d: String): Boolean = {
          val seeded = graft.etl.AnnIndex.ensureIvfSeeded(vecs, d, ivfNlist)
          // ONE frozen-model assignment feeds both the lists and the
          // composite's codes (placements mirror by construction, and
          // the argmax runs once, not once per index table); persisted
          // because with the composite both appends evaluate it
          val assigned = graft.etl.AnnIndex.assignIvfLists(vecs, d)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            graft.etl.AnnIndex.appendIvf(assigned, d, Some(batchKey))
            // the IVF-PQ composite rides the same model lifecycle: the
            // first admitting batch bootstraps it from the CURRENT lists
            // corpus (which, after the append just above, already holds
            // this batch's keyed append — and, on an ivfPqDir attached to
            // a pre-existing stream, the whole prior corpus: the encode
            // BACKFILLS it); every batch then encodes against the frozen
            // books with the same write-then-clean keyed hygiene, the
            // keyed append sweeping-and-rewriting exactly its own cells
            // even on the bootstrap batch
            ivfPqDir.foreach { pd =>
              graft.etl.AnnIndex.ensureIvfPqFromLists(spark, d, pd, pqM, pqK)
              graft.etl.AnnIndex.appendIvfPq(assigned, d, pd, Some(batchKey))
            }
            // drift flag for the retrain cadence below: set by every
            // append (carrying the CUMULATIVE appended-row count since
            // the last retrain — the growth gate's numerator; the
            // assignment is one row per admitted doc, so the count is
            // the one the bucket pass above already took), cleared
            // by a completed retrain — so cadence batches with nothing
            // new since the last retrain skip the O(corpus) re-cluster
            // instead of republishing an identical model. A crash-replay
            // recounts its own batch (the rows themselves stay
            // exactly-once) — the gate is a maintenance heuristic and
            // over-counting only retrains marginally earlier.
            val pending = s"$d/_GRAFT_RETRAIN_PENDING"
            graft.GraftFs.default.writeString(pending,
              (readPendingCount(pending) + nKept).toString)
          } finally assigned.unpersist(false)
          seeded
        }
        // ── PUBLISH. The effects above each write their own table and read
        // only the pinned decision frame (the corpus commit also reads the
        // corpus's own buckets), so they run as ONE concurrent set of Spark
        // jobs: their jobs are mostly single-task writes that would leave
        // cores idle one after another, and a wide one just runs first
        // under FIFO. Each effect's internal order is unchanged. The set
        // returns only once every effect has ended; a failure in one
        // surfaces after the others finish, and no effect is left running
        // when the batch body exits.
        val admits = nKept > 0
        val publishSet: Seq[() => Any] =
          auditDir.map(ad => () => writeAuditLog(ad)).toSeq ++
            holdoutGrams.map(g => () => commitEvalGrams(g)) ++
            Option.when(spanExcise)(() => commitSpanAnchors()) ++
            Option.when(admits)(() => commitCorpus()) ++
            Option.when(admits)(() => graft.etl.AnnIndex.appendLsh(vecs, lshDir,
              graft.etl.AnnIndex.LshBands, graft.etl.AnnIndex.LshBits,
              Some(batchKey))) ++
            sq8Dir.filter(_ => admits).map(d =>
              () => graft.etl.AnnIndex.appendSq8(vecs, d, Some(batchKey))) ++
            ivfDir.filter(_ => admits).map(d => () => publishIvf(d)) ++
            Option.when(budgetPerSource.nonEmpty && (admits || !ledgerExists))(
              () => commitLedger())
        // the IVF unit is the one effect with a value
        val ivfSeededThisBatch =
          GraftSqlBridge.concurrently(spark)(publishSet: _*)
            .collectFirst { case seeded: Boolean => seeded }.getOrElse(false)
        // the dedup-index commit lands the survivors' posting rows LAST,
        // only once every other effect succeeded: a batch that failed part
        // way leaves no postings, so a fresh-checkpoint restart (new
        // lineage, whose gate sees every other lineage's postings) still
        // admits its docs instead of near-dup-rejecting them against
        // postings of a publish that never completed
        if (admits)
          graft.etl.IncrementalDedup.commitPostings(
            posts.join(broadcast(kept.select("doc_id")), Seq("doc_id"),
              "left_semi"),
            dedupDir, Some(batchKey))
        // IN-STREAM MAINTENANCE CADENCE (bounds the stream's on-disk
        // growth): without it, every micro-batch leaves (a) one superseded
        // `_budget` ledger version, (b) superseded corpus bucket versions,
        // and (c) one `batch_id=` parquet fragment per LSH band / SQ8
        // table / posting table — all O(batches) forever, and since
        // batch_id sits BELOW the band prune level, a pruned probe's
        // file-open cost grows linearly with batch count. Runs AFTER the
        // batch's commits: the vacuum first, then each table's compaction
        // as one concurrent set (the helper the publish stage uses). Every
        // table still has one writer at a time — the set holds at most one
        // rewrite per table, and the IVF lists and IVF-PQ codes share ONE
        // sequential unit — the single-writer discipline of
        // upsertToParquet's vacuumEvery.
        //
        // Replay safety of the coalescing compaction: THIS batch is not
        // yet durably checkpointed when its body runs, so its own
        // `batch_id=` partitions are passed as preserveBatchKeys — they
        // survive the fold, keeping a crash-replay's excludeBatchKey
        // filter effective (it must not see its own postings as
        // pre-existing index state). Every earlier batch of this lineage
        // IS checkpoint-committed by now, so folding those into the
        // `batch_id=-1` base is exactly the quiet-window contract
        // Compaction documents.
        //
        // Crash safety AND reader consistency come from the versioned-
        // pointer publish: the rewrite lands as a complete sibling
        // generation, one atomic pointer rename makes it current, and the
        // retired generation survives one more cycle — a probe racing this
        // maintenance resolves a complete snapshot either way, and a death
        // at any point leaves the old generation current (the orphan
        // rewrite is reclaimed by the next run). Spec-asserted by the
        // concurrent reader/crash cases in CompactionSpec.
        if (vacuumEvery > 0 && batchId % vacuumEvery == 0) {
          if (BT.exists(corpusDir)) BT.vacuum(corpusDir)
          if (graft.GraftFs.default.exists(s"$budgetDir/_CURRENT"))
            graft.etl.Warehouse.vacuum(budgetDir)
        }
        // an in-stream retrain this batch subsumes an IVF layout compaction
        // (it rewrites and batch-folds the whole lists table itself).
        // Gates beyond the cadence: the seeding batch is exempt (its model
        // was trained moments ago from this very data), and the persistent
        // _GRAFT_RETRAIN_PENDING drift flag must be set — a cadence batch
        // with no appends since the last retrain would re-cluster an
        // unchanged corpus into an identical model for a full O(corpus)
        // pass. The flag (not "did THIS batch admit") carries pending
        // drift across skipped cadence points: admission that always lands
        // between cadence batches still retrains at the next opportunity.
        // `ivfRetrainMinGrowth` strengthens the gate from "any drift" to
        // "enough drift": the flag carries the appended-row count since the
        // last retrain, and a cadence batch re-clusters only when that
        // growth reaches the configured fraction of the pre-growth corpus
        // (the standard "retrain after +10% data" production heuristic) —
        // the corpus size is one parquet-footer metadata count, paid only
        // at cadence points with the gate enabled. An unparsable legacy
        // flag counts as unknown growth and retrains (the conservative
        // direction).
        val ivfRetrainNow = ivfRetrainEvery > 0 && !ivfSeededThisBatch &&
          batchId % ivfRetrainEvery == 0 &&
          ivfDir.exists { d =>
            val p = s"$d/_GRAFT_RETRAIN_PENDING"
            graft.GraftFs.default.exists(p) && (ivfRetrainMinGrowth <= 0 || {
              val appended = readPendingCount(p)
              appended <= 0L ||
                !graft.etl.Compaction.tableExists(s"$d/lists") || {
                  val corpus = graft.etl.AnnIndex.readLists(spark,
                    graft.etl.Compaction.currentPath(s"$d/lists")).count()
                  appended.toDouble >=
                    ivfRetrainMinGrowth * math.max(1L, corpus - appended)
                }
            })
          }
        val compactNow = compactEvery > 0 && batchId % compactEvery == 0
        val preserve = Set(batchKey)
        def existsTbl(p: String) = graft.etl.Compaction.tableExists(p)
        def compact(t: graft.etl.BatchKeyed) =
          graft.etl.Compaction.compactBatchKeyed(spark, t, preserve)
        // every batch-keyed table but the IVF pair, one compaction each;
        // the eval-gram and span-anchor tables grow one fragment per
        // holdout-carrying or admitting batch
        val keyedTables =
          Seq(graft.etl.AnnIndex.lshTable(lshDir)) ++
            sq8Dir.map(graft.etl.AnnIndex.sq8Table) ++
            Seq(graft.etl.IncrementalDedup.postingsTable(dedupDir)) ++
            Option.when(anyDecon)(evalGrams) ++
            Option.when(spanExcise)(spanAnchors)
        val compactions: Seq[() => Any] =
          if (!compactNow) Nil
          else keyedTables.filter(t => existsTbl(t.root)).map(t => () => compact(t))
        // the IVF lists and the IVF-PQ codes: one sequential unit beside the
        // other tables' compactions, since the codes follow the lists
        def compactIvf(): Unit = {
          (ivfDir.map(graft.etl.AnnIndex.listsTable) ++
            ivfPqDir.map(graft.etl.AnnIndex.codesTable))
            .filter(t => existsTbl(t.root)).foreach(compact)
          // the two layout rewrites carry the SAME model, but the codes'
          // carried `_lists_gen` sidecar still names the now-RETIRED
          // lists generation (which stops receiving appends) — realign
          // the pairing to the fresh generation or composite probes
          // would serve a frozen corpus view until the next codes publish
          for (d <- ivfDir; pd <- ivfPqDir
               if existsTbl(s"$d/lists") && existsTbl(s"$pd/codes"))
            graft.etl.AnnIndex.realignListsGenSidecar(d, pd)
        }
        // MODEL-DRIFT maintenance, the cadence compaction can't provide:
        // every `ivfRetrainEvery`-th batch re-clusters the full lists corpus
        // (frozen-centroid appends only ASSIGN — recall decays as the data
        // distribution drifts away from the trained centroids), publishing
        // the (centroids, lists) composite atomically. Runs AFTER this
        // batch's commits, with no other writer of the IVF tables —
        // exactly the writer quiet window retrainIvf's contract asks for —
        // and preserves this batch's (not yet checkpointed) key so a
        // crash-replay's cell-drop append stays exactly-once. A replay
        // re-runs the retrain too: seeded k-means over the same folded
        // corpus is deterministic, so the republished model matches.
        def retrainIvfModel(d: String): Unit = {
          graft.etl.AnnIndex.retrainIvf(spark, d, ivfNlist,
            preserveBatchKeys = preserve)
          // the composite follows ITS documented discipline — retrain
          // AFTER the IVF publish, so the new codes generation mirrors
          // the retrained lists (assignments, batch fold and all); a
          // crash between the two publishes leaves the flag set, and
          // the deterministic seeded re-cluster of the retry converges
          // on the same pair
          ivfPqDir
            .filter(pd => graft.etl.Compaction.tableExists(s"$pd/codes"))
            .foreach(pd => graft.etl.AnnIndex.retrainIvfPq(spark, d, pd, pqM, pqK))
          // drift consumed — cleared only AFTER the publish, so a crash
          // mid-retrain leaves the flag set and the next cadence batch
          // retries
          graft.GraftFs.default.deleteIfExists(s"$d/_GRAFT_RETRAIN_PENDING")
        }
        val ivfMaintenance: Option[() => Any] =
          if (ivfRetrainNow)
            ivfDir.filter(d => existsTbl(s"$d/lists")).map(d => () => retrainIvfModel(d))
          else Option.when(compactNow && ivfDir.nonEmpty)(() => compactIvf())
        GraftSqlBridge.concurrently(spark)(compactions ++ ivfMaintenance: _*)
        ()
    }
  }
}
