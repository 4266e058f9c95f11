package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so the
  * per-op task counters are complete before they are read. The listener bus
  * is package-private to Spark; this is the one access the benchmark needs.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
