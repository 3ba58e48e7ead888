package org.apache.spark

/** The listener bus is package-private to Spark; the benchmark needs to wait
  * for it to drain before it reads its listeners' totals. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
