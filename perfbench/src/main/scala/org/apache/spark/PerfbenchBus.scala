package org.apache.spark

/** Access to the package-private listener bus: task-end events are
 *  delivered asynchronously, so a job's task metrics are complete only
 *  after the bus has drained. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
