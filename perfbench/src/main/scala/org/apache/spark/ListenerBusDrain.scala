package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so far.
  * `SparkContext.listenerBus` is visible only inside this package, so this
  * one call lives here.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
