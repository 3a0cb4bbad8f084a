package org.apache.spark.graftest

import org.apache.spark.SparkContext

/** Waits until the live listener bus has delivered every posted event, so
  * a spec's SparkListener / QueryExecutionListener has seen all jobs and
  * executions of the code under test before it asserts. The bus is
  * `private[spark]`, which is why this file sits in a Spark package. */
object Listeners {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
