package org.apache.spark

/** Listener events are delivered asynchronously; counters read right after
  * an action would miss its last task-end events. `waitUntilEmpty` is
  * `private[spark]`, hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
