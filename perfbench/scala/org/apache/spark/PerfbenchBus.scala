package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run must
  * see every task-end event of a layer call before it reads the call's
  * counters. `SparkContext.listenerBus` is package-private, so this one
  * accessor lives in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
