package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one package-private crossing the harness needs: delivering every
  * listener event already posted, so counters are read after the events
  * that produced them, never after a guessed sleep. */
object BusDrain {
  /** True when the listener bus emptied within `timeoutMs`. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
