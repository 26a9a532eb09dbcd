package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the listener
  * bus has delivered every event posted so far, so counters read after a
  * measured call include all of that call's jobs and tasks. */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
