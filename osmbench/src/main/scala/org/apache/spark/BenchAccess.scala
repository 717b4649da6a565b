package org.apache.spark

/** The listener bus delivers events asynchronously; the benchmark
  * reads its listener's counters only after the bus has drained. */
object BenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
