package org.apache.spark

/** The one scheduler hook the traced run needs that Spark keeps
  * package-private: wait until every posted listener event (job, stage
  * and task ends) has been delivered, so a span's counters are complete
  * when it is read. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
