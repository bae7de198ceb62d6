package org.apache.spark

/** Test access to Spark's private listener bus. */
object ListenerDrain {
  /** Waits until every listener event posted so far has been delivered. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
