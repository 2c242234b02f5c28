package org.apache.spark

/** Listener-bus barrier for the benchmark's trace. Spark delivers task and
  * SQL events asynchronously; a span's sums are complete only once the bus
  * has drained, and `waitUntilEmpty` is visible from this package only.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
