package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * test listener has seen every job submitted so far. Lives in Spark's
  * package because `SparkContext.listenerBus` is `private[spark]`. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
