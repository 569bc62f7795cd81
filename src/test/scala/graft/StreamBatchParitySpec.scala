package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.stream.Streams

/** Stream/batch unification (SURVEY.md §2.10): the SAME query body produces
  * the same finalized windows whether driven as a batch DataFrame or through
  * Structured Streaming — this is what lets the batch DuckDB oracle coverage
  * of q_stream_tumbling vouch for the streaming path too. */
class StreamBatchParitySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 2.0),
    Ev(2, ts("2024-01-01 10:40:00"), 2, "view", 1.0),
    Ev(3, ts("2024-01-01 10:55:00"), 1, "click", 3.0),
    Ev(4, ts("2024-01-01 11:10:00"), 3, "view", 5.0),
    Ev(5, ts("2024-01-01 12:30:00"), 1, "purchase", 7.0)) // pushes watermark past 11:00

  test("tumbling aggregation: batch run == streaming finalized windows") {
    // batch: same body, no watermark semantics — every window present
    val batch = Streams.tumblingCounts(events.toDF(), "10 minutes")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.tumblingCounts(mem.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("t_parity").outputMode("append")
      .start()
    try {
      mem.addData(events.take(4): _*)
      q.processAllAvailable()
      mem.addData(events.last)
      q.processAllAvailable()
      val streamed = spark.table("t_parity")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      // streaming emits only windows the watermark has closed (hours 10, 11);
      // every emitted window must match the batch result exactly
      assert(streamed.nonEmpty)
      assert(streamed.subsetOf(batch),
        s"streamed windows must equal their batch counterparts:\n" +
          s"stream=$streamed\nbatch=$batch")
      // hour-10 and hour-11 windows are closed by the 12:30 event
      val closedHours = streamed.map(_._1.substring(0, 13)).toSeq.sorted
      assert(closedHours.contains("2024-01-01 10") && closedHours.contains("2024-01-01 11"))
    } finally q.stop()
  }

  test("sliding aggregation: batch run == streaming finalized windows") {
    val batch = Streams.slidingCounts(events.toDF(), "10 minutes")
      .collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.slidingCounts(mem.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("s_parity").outputMode("append")
      .start()
    try {
      mem.addData(events.take(4): _*)
      q.processAllAvailable()
      mem.addData(events.last)
      q.processAllAvailable()
      val streamed = spark.table("s_parity")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed.nonEmpty)
      assert(streamed.subsetOf(batch),
        s"streamed sliding windows must equal their batch counterparts:\n" +
          s"stream=$streamed\nbatch=$batch")
      // an event in hour 10 must appear in BOTH its overlapping windows
      // once they close (09:00-11:00 and 10:00-12:00 close by 12:30)
      val starts = streamed.map(_._1.substring(0, 13))
      assert(starts.contains("2024-01-01 09") && starts.contains("2024-01-01 10"))
    } finally q.stop()
  }

  test("stream-stream join body: batch run == independently-computed pairs") {
    // the SAME pairedWithinWindow body on batch inputs (watermarks are
    // no-ops in batch) must equal a from-scratch batch formulation
    val signups = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "signup", 0.0),
      Ev(2, ts("2024-01-01 10:00:00"), 2, "signup", 0.0),
      Ev(3, ts("2024-01-01 12:00:00"), 1, "signup", 0.0))
    val purchases = Seq(
      Ev(10, ts("2024-01-01 10:30:00"), 1, "purchase", 1.0), // pairs signup 1
      Ev(11, ts("2024-01-01 12:30:00"), 2, "purchase", 1.0), // outside user-2's 1h
      Ev(12, ts("2024-01-01 12:20:00"), 1, "purchase", 1.0)) // pairs signup 3
    val got = Streams.pairedWithinWindow(signups.toDF(), purchases.toDF(), "1 hour")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = (for {
      s <- signups; p <- purchases
      if s.user_id == p.user_id &&
        !p.ts.before(s.ts) &&
        p.ts.getTime - s.ts.getTime <= 3600 * 1000L
    } yield (s.user_id, s.event_id, p.event_id)).toSet
    assert(got === expected, s"got=$got expected=$expected")
    assert(got === Set((1L, 1L, 10L), (1L, 3L, 12L)))
  }

  test("funnel state machine: cross-batch stage advancement matches batch semantics") {
    import graft.stream.UserEvent
    def ue(id: Long, t: String, u: Long, typ: String) =
      UserEvent(id, ts(t), u, typ, 0.0)
    // user 1 completes the funnel ACROSS batches; user 2's view precedes
    // its signup (must not advance); user 3 signs up and stalls
    val batch1 = Seq(
      ue(1, "2024-01-01 10:00:00", 1, "signup"),
      ue(2, "2024-01-01 10:05:00", 1, "view"),
      ue(3, "2024-01-01 10:00:00", 2, "view"),    // before user 2's signup
      ue(4, "2024-01-01 10:30:00", 2, "signup"),
      ue(5, "2024-01-01 10:00:00", 3, "signup"))
    val batch2 = Seq(
      ue(6, "2024-01-01 11:00:00", 1, "purchase"), // completes user 1
      ue(7, "2024-01-01 11:30:00", 2, "view"))     // now after signup -> stage 2
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[UserEvent]
    val q = Streams.funnelTws(mem.toDS())
      .writeStream.format("memory").queryName("funnel_tws").outputMode("update")
      .start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      // latest emission per user = final funnel state
      val got = spark.table("funnel_tws")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
        .groupBy(_._1).map { case (u, rows) =>
          u -> rows.map(_._2).maxBy(_._4) }
      def us(t: String) = ts(t).getTime * 1000L
      assert(got(1L) === (us("2024-01-01 10:00:00"), us("2024-01-01 10:05:00"),
                          us("2024-01-01 11:00:00"), 3))
      assert(got(2L) === (us("2024-01-01 10:30:00"), us("2024-01-01 11:30:00"), -1L, 2))
      assert(got(3L) === (us("2024-01-01 10:00:00"), -1L, -1L, 1))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("funnel state machine: sub-millisecond event spacing still advances stages") {
    // The ingest timestamp format carries .SSSSSS — two funnel events inside
    // the SAME millisecond must still satisfy the strict `us > prev` checks.
    // A milli-resolution conversion (getTime*1000) truncates both to the
    // same micros and the funnel stalls where the batch twin advances.
    import graft.stream.UserEvent
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00.000100")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00.000400") // same ms
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00.000900") // same ms
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[UserEvent]
    val q = Streams.funnelTws(mem.toDS())
      .writeStream.format("memory").queryName("funnel_subms").outputMode("update")
      .start()
    try {
      mem.addData(
        UserEvent(1, t0, 7, "signup", 0.0),
        UserEvent(2, t1, 7, "view", 0.0),
        UserEvent(3, t2, 7, "purchase", 0.0))
      q.processAllAvailable()
      val fin = spark.table("funnel_subms")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
        .maxBy(_._4)
      def us(t: java.sql.Timestamp) =
        Math.floorDiv(t.getTime, 1000) * 1000000L + t.getNanos / 1000
      assert(fin === (us(t0), us(t1), us(t2), 3),
        "sub-millisecond spacing must advance the funnel with true-micro timestamps")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming source-budget gate: single-batch replay == q_source_budget; state carries across batches") {
    import org.apache.spark.sql.functions.{col, size, split}
    import graft.stream.DocTokens
    // the corpus, metered exactly as the batch query meters it
    val docs = graft.Tables.documents(spark, TestSpark.sfDir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .collect().map(r => DocTokens(r.getLong(0), r.getString(1), r.getLong(2)))
    val batch = graft.queries.LlmMix.qSourceBudget(spark, TestSpark.sfDir).collect()
      .map(r => r.getLong(0) -> (r.getInt(2).toLong, r.getLong(3), r.getBoolean(4))).toMap
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // (1) whole corpus in ONE micro-batch: per-source in-batch hash ordering
    // makes the stream emit exactly the batch audit rows
    val mem = MemoryStream[DocTokens]
    val q = Streams.sourceBudgetTws(mem.toDS())
      .writeStream.format("memory").queryName("budget_tws").outputMode("update")
      .start()
    // (2) a second stream fed the SAME corpus split across two micro-batches:
    // cumulative state must carry over (totals equal, admissions a prefix)
    val mem2 = MemoryStream[DocTokens]
    val q2 = Streams.sourceBudgetTws(mem2.toDS())
      .writeStream.format("memory").queryName("budget_tws2").outputMode("update")
      .start()
    try {
      mem.addData(docs.toSeq: _*); q.processAllAvailable()
      val got = spark.table("budget_tws").collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
      assert(got.size === batch.size)
      assert(got === batch, "one-batch streaming replay must equal the batch audit")

      val (b1, b2) = docs.partition(_.doc_id % 2 == 0)
      mem2.addData(b1.toSeq: _*); q2.processAllAvailable()
      mem2.addData(b2.toSeq: _*); q2.processAllAvailable()
      val crossBySource = spark.table("budget_tws2").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).groupBy(_._1)
      // per source: the final cumulative equals the batch total (state
      // carried), even though admission order differed across batches
      val batchTotals = graft.queries.LlmMix.qSourceBudget(spark, TestSpark.sfDir)
        .collect().map(r => (r.getString(1), r.getInt(2).toLong)).groupBy(_._1)
        .map { case (s, rows) => s -> rows.map(_._2).sum }
      crossBySource.foreach { case (src, rows) =>
        assert(rows.map(_._3).max === batchTotals(src),
          s"source $src: cross-batch cumulative diverged from the batch total")
      }
    } finally {
      q.stop(); q2.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("timer sessions: timeout emission equals an independent gaps-and-islands sessionization") {
    import graft.stream.UserEvent
    implicit val sqlCtx = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def ue(id: Long, t: String, u: Long) = UserEvent(id, ts(t), u, "e", 0.0)
    val evs = Seq(
      ue(1, "2024-01-01 10:00:00", 1), ue(2, "2024-01-01 10:10:00", 1),
      ue(3, "2024-01-01 11:30:00", 1), // > 30-min gap → second session
      ue(4, "2024-01-01 10:05:00", 2), ue(5, "2024-01-01 10:50:00", 2), // 45-min gap
      ue(6, "2024-01-01 12:00:00", 3))
    // independent truth: per-user time sort, split at > 30-minute gaps
    val expected = evs.groupBy(_.user_id).flatMap { case (u, es) =>
      val sorted = es.sortBy(_.ts.getTime)
      val sessions = sorted.tail.foldLeft(List(List(sorted.head))) { (acc, e) =>
        if (e.ts.getTime - acc.head.head.ts.getTime <= 30 * 60 * 1000L)
          (e :: acc.head) :: acc.tail
        else List(e) :: acc
      }
      sessions.map(s => (u, s.map(_.ts.getTime).min * 1000L,
        s.map(_.ts.getTime).max * 1000L, s.size.toLong))
    }.toSet
    val mem = MemoryStream[UserEvent]
    val q = Streams.sessionTimeoutTws(mem.toDS(), gapMinutes = 30, delay = "10 minutes")
      .writeStream.format("memory").queryName("t_session_parity")
      .outputMode("append").start()
    try {
      mem.addData(evs: _*)
      q.processAllAvailable()
      // a far-future event pushes the watermark past every open timer
      mem.addData(ue(99, "2024-01-02 12:00:00", 99))
      q.processAllAvailable()
      val got = spark.table("t_session_parity").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .filter(_._1 != 99L).toSet
      assert(got === expected, s"got=$got expected=$expected")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming Misra-Gries sketch: O(k) state, heavy items survive across micro-batches") {
    // heavy words split ACROSS micro-batches — the sketch state must carry
    // them; vocabulary (40) > k (8) so decrements genuinely fire in-stream
    val b1 = Seq.fill(250)("alpha") ++ (0 until 40).flatMap(i => Seq.fill(5)(s"w$i"))
    val b2 = Seq.fill(250)("alpha") ++ Seq.fill(400)("beta") ++
      (0 until 40).flatMap(i => Seq.fill(5)(s"w$i"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = Streams.streamingWordSketch(mem.toDF().toDF("word"), k = 8)
      .writeStream.format("memory").queryName("mg_sketch").outputMode("complete")
      .start()
    try {
      mem.addData(scala.util.Random.shuffle(b1): _*)
      q.processAllAvailable()
      mem.addData(scala.util.Random.shuffle(b2): _*)
      q.processAllAvailable()
      val sketch = spark.table("mg_sketch").collect()
      assert(sketch.length === 1, "complete mode must emit one global sketch row")
      val keys = sketch.head.getMap[String, Long](0).keySet
      assert(keys.size <= 8, s"state exceeded k: $keys")
      // alpha (500) and beta (400) are far above n/(k+1) of the full stream
      assert(keys.contains("alpha") && keys.contains("beta"),
        s"heavy items lost across micro-batches: $keys")
    } finally q.stop()
  }
}
