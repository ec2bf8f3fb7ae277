package org.apache.spark

/** The one Spark-internal call the benchmark harness needs: listener
  * events are delivered asynchronously, so per-call counters are read
  * only after the bus has drained. */
object EtlBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
