package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Exprs

/** [[GraftSqlBridge.withHashPartitioning]] declares a partitioning Spark
  * cannot check, so its contract is pinned here: a frame pinned after
  * `repartition(n, key)` and re-declared joins to exactly the rows of the
  * undeclared plan, with one exchange fewer; and the key must name ONE
  * column under the session's resolver. [[GraftSqlBridge.concurrently]]'s
  * contract too: the effects overlap on daemon threads carrying the
  * caller's local properties and session, and the call ends only after
  * every effect has ended, whatever failed or interrupted. */
class GraftSqlBridgeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def shuffles(df: DataFrame): Int = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case n => Seq(n)
    }.flatten
    nodes(df.queryExecution.executedPlan).count(_.isInstanceOf[ShuffleExchangeExec])
  }

  test("withHashPartitioning: same rows as the undeclared plan, one exchange fewer") {
    val n = 4
    val edges = spark.range(1000)
      .select((col("id") % 100).as("src"), (col("id") % 7).as("dst"))
    val declared = Exprs.pinPrePartitioned(edges.repartition(n, col("src")), "src", n)
    val plain = edges.repartition(n, col("src")).localCheckpoint(true)
    val frontier = spark.range(5000)
      .select((col("id") % 500).as("src"), (col("id") % 13).as("label"))
      .localCheckpoint(true)
    def probe(e: DataFrame) = e.join(frontier, "src")
      .groupBy("dst").agg(min("label").as("m"), count(lit(1)).as("c"))
    // sort-merge join on both sides, so the declared side's exchange is the
    // one that can go
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val got = probe(declared)
      val ref = probe(plain)
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(got) === rows(ref))
      assert(rows(got) === rows(probe(edges)))
      assert(shuffles(got) === shuffles(ref) - 1,
        s"declared ${shuffles(got)} vs undeclared ${shuffles(ref)} exchanges")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("withHashPartitioning: the key resolves like any column name, and only uniquely") {
    val pinned = spark.range(10).select(col("id").as("src"), col("id").as("dst"))
      .repartition(2, col("src")).localCheckpoint(true)
    // case-insensitive session (the default): "SRC" names `src`
    val declared = GraftSqlBridge.withHashPartitioning(pinned, "SRC", 2)
    assert(declared.collect().length === 10)
    val twin = spark.range(10).select(col("id").as("src"), col("id").as("SRC"))
      .localCheckpoint(true)
    val err = intercept[IllegalArgumentException] {
      GraftSqlBridge.withHashPartitioning(twin, "src", 2)
    }
    assert(err.getMessage.contains("ambiguous"), err.getMessage)
    intercept[IllegalArgumentException] {
      GraftSqlBridge.withHashPartitioning(pinned, "nope", 2)
    }
  }

  test("concurrently: the effects overlap, carry the caller's properties and session, and return in submission order") {
    val sc = spark.sparkContext
    val key = "graft.test.concurrently"
    sc.setLocalProperty(key, "caller")
    // each effect waits for all three at the barrier: sequential effects
    // would time out there
    val barrier = new java.util.concurrent.CyclicBarrier(3)
    try {
      val seen = GraftSqlBridge.concurrently(spark)((0 until 3).map { i => () =>
        barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
        val t = Thread.currentThread()
        (i, t.getName, t.isDaemon, sc.getLocalProperty(key),
          org.apache.spark.sql.SparkSession.getActiveSession.contains(spark),
          spark.range(100).count())
      }: _*)
      assert(seen.map(_._1) === Seq(0, 1, 2))
      seen.foreach { case (_, name, daemon, prop, session, n) =>
        assert(name.startsWith("graft-effect") && daemon, s"thread $name, daemon $daemon")
        assert(prop === "caller" && session && n === 100L)
      }
    } finally sc.setLocalProperty(key, null)
  }

  test("concurrently: waits for every effect, then rethrows the first failure in submission order with the rest suppressed") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err = intercept[IllegalStateException] {
      GraftSqlBridge.concurrently(spark)(
        () => { Thread.sleep(500); slowDone.set(true) },
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(100); throw new IllegalArgumentException("second") })
    }
    assert(slowDone.get, "the call surfaced a failure while an effect was still running")
    assert(err.getMessage === "first")
    assert(err.getSuppressed.map(_.getMessage).toSeq === Seq("second"))
  }

  test("concurrently: an interrupt of the caller waits for the effects, then surfaces as InterruptedException") {
    val started = new java.util.concurrent.CountDownLatch(1)
    val effectDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val outcome = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val effectDoneAtExit = new java.util.concurrent.atomic.AtomicBoolean(false)
    val caller = new Thread(() =>
      try GraftSqlBridge.concurrently(spark)(() => {
        started.countDown(); Thread.sleep(500); effectDone.set(true)
      })
      catch { case t: Throwable =>
        effectDoneAtExit.set(effectDone.get)
        outcome.set(t)
      })
    caller.start()
    assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(30000)
    assert(outcome.get.isInstanceOf[InterruptedException], s"got ${outcome.get}")
    assert(effectDoneAtExit.get, "the interrupt cut the wait short")
  }
}
