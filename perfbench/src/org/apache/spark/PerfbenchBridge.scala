package org.apache.spark

/** Reaches the one scheduler call the benchmark needs that Spark keeps
  * package-private: waiting until every posted listener event has been
  * delivered, so a traced run's spans are complete before they are read. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
