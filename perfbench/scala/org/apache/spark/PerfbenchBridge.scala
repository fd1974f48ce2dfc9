package org.apache.spark

/** The one Spark-internal call the benchmark's tracer needs: block until
  * every posted listener event has been delivered, so counters are read
  * only after the listener bus has drained. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
