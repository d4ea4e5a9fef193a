package org.apache.spark

/** Listener events arrive asynchronously; the benchmark drains the bus
  * before it reads its counters. The bus is package-private to Spark. */
object BenchBus {
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
