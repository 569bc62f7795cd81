package org.apache.spark.sql

import java.util.concurrent.{CompletableFuture, CompletionException}

import scala.util.{Failure, Try}

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.util.ThreadUtils

/** The package-private Spark crossings graft needs, kept in one place:
  *   - plan→Dataset construction: the custom-operator path turns a
  *     hand-built [[LogicalPlan]] back into a public DataFrame. Spark
  *     exposes every other piece of the whole-operator extension surface
  *     publicly (`SparkSessionExtensions.injectPlannerStrategy`,
  *     `SparkStrategy`, `SparkPlan`, `experimental.extraStrategies`) but
  *     keeps this step session-internal, so libraries adding operators
  *     place the shim in the sql package — the established pattern across
  *     open-source Spark extensions;
  *   - re-declaring a checkpointed frame's partitioning
  *     ([[withHashPartitioning]]);
  *   - draining the listener bus before counters are read
  *     ([[drainListenerBus]]);
  *   - running independent effects as concurrent jobs of the caller
  *     ([[concurrently]]).
  * Everything else in [[graft.plans]] uses public/DeveloperApi surfaces. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Re-declare a checkpointed frame's hash partitioning (r19 optimization,
    * guide §2.4 stationary tables): `Dataset.checkpoint`/`localCheckpoint`
    * under AQE rebuilds the plan as a [[org.apache.spark.sql.execution.LogicalRDD]]
    * with `UnknownPartitioning` — a `repartition(n, col)` applied just
    * before the pin is real in the materialized RDD (AQE never changes a
    * REPARTITION_BY_NUM exchange's partition count or placement) but
    * invisible to EnsureRequirements, so every later join/aggregation on
    * that key re-shuffles the pinned frame (measured: the CC loop and the
    * pagerank loop re-exchanged their stationary edge tables every round).
    * This shim copies the LogicalRDD with the partitioning the RDD already
    * HAS declared on it, so keyed consumers skip the exchange.
    *
    * CONTRACT: the caller must have produced the pinned frame from exactly
    * `df.repartition(numPartitions, col(key))` (optionally followed by
    * partitioning-preserving ops — window over the same key, filters,
    * projections keeping the key) before the checkpoint. Declaring a
    * placement the rows do not have silently mis-joins; GraftSqlBridgeSpec
    * pins the equivalence (same rows, one exchange fewer). */
  def withHashPartitioning(df: DataFrame, key: String, numPartitions: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        // the session's resolver (case-insensitive by default), and the
        // name must pick out ONE column: declaring the placement of the
        // wrong one of two same-named columns would silently mis-join
        val resolver = df.sparkSession.asInstanceOf[classic.SparkSession]
          .sessionState.conf.resolver
        val attr = lr.output.filter(a => resolver(a.name, key)) match {
          case Seq(a) => a
          case Seq() => throw new IllegalArgumentException(
            s"withHashPartitioning: no column '$key' in ${lr.output.map(_.name).mkString(", ")}")
          case many => throw new IllegalArgumentException(
            s"withHashPartitioning: column '$key' is ambiguous, it matches " +
              many.map(_.name).mkString(", "))
        }
        val declared = lr.makeCopy(Array(lr.output, lr.rdd,
          HashPartitioning(Seq(attr), numPartitions), lr.outputOrdering,
          java.lang.Boolean.valueOf(lr.isStreaming), lr.stream))
          .asInstanceOf[LogicalPlan]
        ofRows(df.sparkSession, declared)
      case other => throw new IllegalStateException(
        "withHashPartitioning expects a checkpointed frame (LogicalRDD plan), got " +
          other.getClass.getName)
    }
  }

  /** Deliver every listener event already posted, so counters a listener
    * keeps are read after the events that produced them, never after a
    * guessed sleep. True when the bus emptied within `timeoutMs`. */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** Run `effects` as concurrent Spark jobs and return their values in
    * submission order. Each effect runs on a pool thread that carries a
    * copy of the caller's local properties and active session
    * (`SQLExecution.withThreadLocalCaptured`), so its jobs keep the
    * caller's job group, streaming query and batch ids and SQL root
    * execution: listeners attribute them to the caller, and cancelling the
    * caller's job group cancels them.
    *
    * Returns or throws only once EVERY effect has ended, so none is still
    * running when the caller goes on. If any failed, the first failure in
    * submission order is rethrown with the later ones suppressed. An
    * interrupt of the waiting thread does not cut the wait short: once all
    * effects have ended it surfaces as that first failure with the thread's
    * interrupt flag set, or as an `InterruptedException` when none failed. */
  def concurrently[A](spark: SparkSession)(effects: (() => A)*): Seq[A] = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val running = effects.map(e =>
      SQLExecution.withThreadLocalCaptured(session, effectPool)(e()))
    // allOf completes once every effect has completed, failed or not; join
    // waits through interrupts and sets the flag again afterwards
    Try(CompletableFuture.allOf(running: _*).join())
    val outcomes = running.map(f => Try(f.join()).recoverWith {
      case e: CompletionException if e.getCause != null => Failure(e.getCause)
    })
    outcomes.collect { case Failure(e) => e } match {
      case first +: later =>
        later.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ =>
        if (Thread.interrupted())
          throw new InterruptedException("interrupted while concurrent effects ran")
        outcomes.map(_.get)
    }
  }

  /** [[concurrently]]'s threads: named daemon threads, created on demand and
    * retired after a minute idle, so there are never more of them than
    * effects running at once. */
  private lazy val effectPool = ThreadUtils.newDaemonCachedThreadPool("graft-effect")
}
