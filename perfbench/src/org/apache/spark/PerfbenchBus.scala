package org.apache.spark

/** The one `private[spark]` call the benchmark needs: block until every
  * listener event posted so far has been delivered, so per-op job, stage
  * and task counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
