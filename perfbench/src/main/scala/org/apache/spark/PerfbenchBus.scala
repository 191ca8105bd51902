package org.apache.spark

/** The listener bus is private to Spark; the tracer needs to wait until
  * every queued event of a pass has been delivered before it reads its
  * listeners, so it reaches the bus from inside Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
