package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run waits
  * for it to drain before reading per-job counters. The bus is
  * package-private to Spark, hence this one-line bridge.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
