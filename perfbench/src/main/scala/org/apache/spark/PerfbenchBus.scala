package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's tracer sees all of one operation's job, task and query
  * events before the next operation starts. The bus is package-private
  * to Spark, hence this shim. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
