package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered. Listener callbacks are asynchronous; a traced unit reads its
  * counters only after this returns. The bus is package-private to Spark,
  * hence this one-line bridge in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
