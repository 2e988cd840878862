package org.apache.spark

/** Waits until every posted listener event has been delivered, so a trace
  * written at the end of a run holds the last jobs and stages. The bus is
  * private to Spark's own package, hence this file's package.
  */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
