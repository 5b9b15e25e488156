package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the scheduler's listener bus, which is private to Spark. */
object ListenerBus {

  /** Block until every posted scheduler event has reached the listeners,
    * so counters read afterwards include the jobs that just finished.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
