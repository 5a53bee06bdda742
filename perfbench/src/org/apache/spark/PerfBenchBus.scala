package org.apache.spark

/** Drains the listener bus so every task, job and stage event of a run has
  * reached the benchmark's listeners before their counts are read. The bus
  * is package-private to Spark, hence this one-method shim. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
