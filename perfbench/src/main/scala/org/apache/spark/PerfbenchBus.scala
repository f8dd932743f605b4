package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * traced op's jobs, stages and tasks are recorded before the next op
  * starts. The bus is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
