package org.apache.spark

/** The benchmark's one reach into `private[spark]`: wait until every
  * posted listener event has been delivered, so span counts are complete
  * before they are read. */
object KnnBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
