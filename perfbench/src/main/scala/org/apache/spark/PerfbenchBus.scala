package org.apache.spark

/** The one Spark-internal call the harness needs: listener events are
  * delivered asynchronously, so an operation's trace is complete only
  * after the bus has drained. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
