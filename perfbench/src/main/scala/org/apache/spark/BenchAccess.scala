package org.apache.spark

/** The one package-private Spark call the benchmark needs: wait until
  * the listener bus has delivered every event, so listener totals are
  * complete when a traced pass is read out. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
