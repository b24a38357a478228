package org.apache.spark

/** The listener bus's drain is package-private; the traced run needs it
  * so that every event of a pass has arrived before the pass is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
