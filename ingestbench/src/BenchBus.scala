package org.apache.spark

/** Drains Spark's asynchronous listener bus, which is `private[spark]`, so
  * listener counters are complete before the benchmark reads them. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
