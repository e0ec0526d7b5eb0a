package org.apache.spark

/** The listener bus is private to Spark; this lives in Spark's package only
  * to wait until every queued event has reached the benchmark's listeners.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
