package org.apache.spark

/** Blocks until every listener event posted so far has been delivered,
  * or throws `TimeoutException`: the bus is private[spark], so
  * [[graft.Telemetry]] reaches it from inside the package. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
