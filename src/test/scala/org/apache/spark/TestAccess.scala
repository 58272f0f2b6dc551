package org.apache.spark

/** The scheduler hook specs need that Spark keeps package-private: wait
  * until every posted listener event has been delivered, so a listener's
  * record of an action is complete when the spec reads it. */
object TestAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
