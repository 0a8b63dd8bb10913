package org.apache.spark

/** Reaches the one `private[spark]` hook the benchmark needs: waiting until
  * every queued listener event has been delivered, so counters are complete
  * before they are read.
  */
object SparkProbe {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
