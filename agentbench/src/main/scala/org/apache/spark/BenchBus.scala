package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * traced phase's listeners have seen all of its jobs, tasks and streaming
  * progress before the benchmark reads them. The bus is package-private. */
object BenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
