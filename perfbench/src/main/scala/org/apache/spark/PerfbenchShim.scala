package org.apache.spark

/** The one `private[spark]` call the benchmark needs: wait until every
  * queued listener event has been delivered, so job attribution is complete
  * before the trace is written.
  */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
