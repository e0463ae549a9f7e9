package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so counters read after a job are complete. The bus is
  * package-private to Spark; this is the one call the benchmark needs
  * from inside that package. */
object FdrbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
