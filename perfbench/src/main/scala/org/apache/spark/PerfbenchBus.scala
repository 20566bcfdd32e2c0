package org.apache.spark

/** Listener-bus flush for the benchmark's traced runs. Listener events
  * reach listeners asynchronously; a query run's job, stage and task
  * records are read only after every event posted so far was delivered.
  * The bus lives in package `org.apache.spark`, hence this file's package. */
object PerfbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
