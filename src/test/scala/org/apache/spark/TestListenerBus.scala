package org.apache.spark

/** The listener bus's drain is package-private; specs that count jobs
  * with a listener drain it before reading the count. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
