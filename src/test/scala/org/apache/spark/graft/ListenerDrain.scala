package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered. The listener
  * bus is `private[spark]`, hence this bridge in a Spark package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
