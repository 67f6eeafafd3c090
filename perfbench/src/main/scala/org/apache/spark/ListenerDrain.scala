package org.apache.spark

/** The listener bus is package-private; the traced run drains it before
  * reading what its listeners recorded. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
