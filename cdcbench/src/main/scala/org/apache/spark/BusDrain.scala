package org.apache.spark

/** Blocks until every listener queue has delivered what was posted so
  * far. Listener events are asynchronous, so figures read right after
  * an action would miss its last events. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
