package org.apache.spark

/** Lets the benchmark's tracer wait until the listener bus has
  * delivered every event before it sums them (the bus is internal to
  * Spark, hence this package).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
