package org.apache.spark

/** The listener bus's drain is package-private; the benchmark needs it
  * so per-layer task counters are complete before they are read. */
object PipebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
