package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * job recorder holds all jobs of a pass before the pass is summarized.
  * Lives in Spark's package because the bus is package-private.
  */
object PerfbenchBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
