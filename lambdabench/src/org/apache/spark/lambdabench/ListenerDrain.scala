package org.apache.spark.lambdabench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so counters
  * read at the end of the traced region include the last job's tasks. The
  * listener bus is `private[spark]`; this bridge is the only non-public
  * Spark call the benchmark makes. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
