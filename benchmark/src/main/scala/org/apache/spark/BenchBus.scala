package org.apache.spark

/** Lets the benchmark wait until its listener has seen every event of
  * an op; the listener bus is package-private to Spark.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
