package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until the live listener bus has delivered every posted event, so
  * task, job, query-execution and streaming events of the timed region
  * are all recorded before the benchmark reads its listeners. The bus is
  * `private[spark]`; this one-line bridge is why the file sits in a
  * Spark package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
