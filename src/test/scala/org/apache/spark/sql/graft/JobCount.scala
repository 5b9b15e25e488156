package org.apache.spark.sql.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the jobs a block starts, after flushing the listener bus
  * (`waitUntilEmpty` is private[spark], hence this package).
  */
object JobCount {
  def during(sc: SparkContext)(body: => Unit): Int = {
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(l)
    try body
    finally {
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(l)
    }
    n.get
  }
}
