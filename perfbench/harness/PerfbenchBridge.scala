package org.apache.spark

/** The one package-private Spark call the benchmark needs: wait until
  * the asynchronous listener bus has delivered every queued event, so
  * per-group counters are complete when they are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
