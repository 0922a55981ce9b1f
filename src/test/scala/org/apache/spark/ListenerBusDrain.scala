package org.apache.spark

/** Test access to Spark's package-private listener-bus drain: after it
  * returns, every event posted so far has reached every listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
