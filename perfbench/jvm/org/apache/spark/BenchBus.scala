package org.apache.spark

/** Listener events arrive asynchronously; the benchmark reads its counters
  * only after every event of the finished job has been delivered. The bus
  * is package-private to Spark, hence this one-line bridge.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
