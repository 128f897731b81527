package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * counters read after a run see all of its jobs, stages and tasks.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
