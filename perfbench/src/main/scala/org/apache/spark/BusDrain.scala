package org.apache.spark

/** Waits until the listener bus has delivered every posted event. The
  * traced run drains at each span boundary so that job, stage, task and
  * query-execution events land on the span that caused them. The bus is
  * package-private to Spark, hence this one-line bridge.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
