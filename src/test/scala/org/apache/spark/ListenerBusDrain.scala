package org.apache.spark

/** Blocks until every listener event posted so far has been delivered —
  * the listener bus is private[spark], so specs that count jobs with a
  * `SparkListener` reach it from inside the package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
