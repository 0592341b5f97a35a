package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every
  * event posted so far; the bus itself is package-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
