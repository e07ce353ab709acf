package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so a
  * benchmark listener sees all jobs and tasks of the work it traced.
  * The bus is package-private to Spark, hence this package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
