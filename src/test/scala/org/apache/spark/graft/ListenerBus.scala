package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to Spark's listener bus, which is private to the
  * `org.apache.spark` package. */
object ListenerBus {
  /** Block until every event posted so far has reached the listeners,
    * so a count a listener keeps is complete when read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
