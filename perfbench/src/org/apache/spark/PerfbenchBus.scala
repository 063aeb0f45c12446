package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's listener has seen all work before the run's result is
  * written. Lives in Spark's package because the bus is package-private. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
