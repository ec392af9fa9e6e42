package org.apache.spark

/** Listener events reach listeners asynchronously; the benchmark reads
  * its listener's counters only after the bus has delivered every event
  * of the jobs it ran. The bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
