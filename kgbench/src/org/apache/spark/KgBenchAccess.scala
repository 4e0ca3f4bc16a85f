package org.apache.spark

/** The one package-private hook the benchmark needs: block until every
  * posted listener event has been delivered, so task metrics read right
  * after an action are complete. */
object KgBenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
