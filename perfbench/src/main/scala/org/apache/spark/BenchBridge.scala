package org.apache.spark

/** The one Spark-internal hook the benchmark needs: listener events arrive
  * asynchronously, so a span's counters are complete only once the bus has
  * delivered every event posted before the span ended. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
