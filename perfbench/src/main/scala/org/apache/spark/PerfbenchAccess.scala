package org.apache.spark

/** The one package-private hook the benchmark needs from Spark. */
object PerfbenchAccess {
  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
