package org.apache.spark

/** The one package-private hook the harness needs: waiting until every
  * listener event posted so far has been delivered, so the per-op
  * counters are complete before they are read. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
