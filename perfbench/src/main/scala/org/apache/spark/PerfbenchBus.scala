package org.apache.spark

/** Listener events reach the benchmark's listeners asynchronously; the
  * counters they feed are read only after the bus has delivered every
  * event posted so far. `waitUntilEmpty` is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
