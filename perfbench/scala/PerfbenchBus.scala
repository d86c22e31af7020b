package org.apache.spark

/** The listener bus's drain is package-private; the traced run needs it
  * so that every job and stage of an interval is recorded before the
  * interval is summarised. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
