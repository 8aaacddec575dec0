package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so the
  * benchmark's per-batch counts are complete when it reads them. The bus is
  * private to Spark, hence this object's package. */
object CdcBenchListeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
