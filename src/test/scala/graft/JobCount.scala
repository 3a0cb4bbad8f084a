package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftest.Listeners
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches (suites run one at a time in the
  * forked test JVM, so every job in the window is the block's). */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    Listeners.drain(sc)
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val out = body
      Listeners.drain(sc)
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }
}
