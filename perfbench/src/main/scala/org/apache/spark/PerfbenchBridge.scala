package org.apache.spark

/** The one package-private hook the benchmark needs: wait until every
  * queued listener event has been delivered, so the counters of a call
  * are complete before the next call starts.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
