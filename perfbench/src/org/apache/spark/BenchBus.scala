package org.apache.spark

/** The one package-private hook the benchmark needs: block until every
  * listener event posted so far has been delivered, so counters read after
  * an action are complete without sleeping on the asynchronous bus. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
