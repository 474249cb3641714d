package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.util.concurrent.atomic.AtomicInteger

/** Counts the Spark jobs a block starts, through a SparkListener. The
  * listener bus is drained before and after the block, so the count is
  * complete when it is read (`listenerBus` is package-private to Spark).
  */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty(30000L)
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty(30000L)
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
