package org.apache.spark

/** The benchmark's tracer reads listener data only after the bus has
  * delivered everything posted so far; the wait is Spark-internal API.
  */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
