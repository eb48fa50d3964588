package org.apache.spark

/** The one scheduler internal the benchmark needs: wait until every
  * listener has processed the events posted so far, so span counters
  * are complete before they are read.
  */
object GraftBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
