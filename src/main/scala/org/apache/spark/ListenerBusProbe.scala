package org.apache.spark

/** Accessor for the `private[spark]` listener bus: flush all pending
  * listener events, so job, stage and query counters read after an
  * action are complete (`graft.core.JobRecorder`, the plan-digest
  * specs). */
object ListenerBusProbe {
  def waitUntilEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
