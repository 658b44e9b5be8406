package org.apache.spark

/** The one Spark-internal call the harness needs: waiting for the listener
  * bus to deliver every queued event before the trace is read. Lives in
  * Spark's package because `SparkContext.listenerBus` is `private[spark]`. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
