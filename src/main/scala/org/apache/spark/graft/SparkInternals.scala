package org.apache.spark.graft

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.util.Utils

/** Access to Spark's listener bus, which is private to the
  * `org.apache.spark` package. */
object ListenerBus {
  /** Block until every event posted so far has reached the listeners,
    * so a count a listener keeps is complete when read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Hand a thread's local properties (job group, description, scheduler
  * pool, profile marker) to work it submits to a pool, as
  * `SQLExecution.withThreadLocalCaptured` does. A pool thread otherwise
  * keeps the properties it inherited from whichever call created it. */
object LocalProperties {
  /** A copy of the calling thread's local properties on the active
    * context, or null when no context is running. */
  def capture(): Properties =
    SparkContext.getActive.map(sc => Utils.cloneProperties(sc.getLocalProperties)).orNull

  /** Run `body` under `captured` (from [[capture]]) and restore this
    * thread's own properties afterwards. */
  def runWith[A](captured: Properties)(body: => A): A =
    SparkContext.getActive match {
      case Some(sc) if captured != null =>
        val own = sc.getLocalProperties
        sc.setLocalProperties(captured)
        try body finally sc.setLocalProperties(own)
      case _ => body
    }
}
