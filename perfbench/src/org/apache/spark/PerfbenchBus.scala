package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * traced run's counts are complete before they are read. The bus is
  * `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
