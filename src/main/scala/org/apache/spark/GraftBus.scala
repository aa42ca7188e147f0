package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so a listener's counts are complete when read; the wait is
  * Spark-internal API.
  */
object GraftBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
