package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Shim living in the `org.apache.spark` namespace to reach the
  * `private[spark]` listener bus — the bench's per-rep metric probe must
  * observe every task-end event of a rep BEFORE snapshotting, and the
  * bus is asynchronous (same access pattern as
  * `org.apache.spark.sql.graft.GraftFunctions`; original code).
  */
object ListenerDrain {
  /** Block until all queued listener events are delivered (bounded). On
    * timeout, say so on stderr: metrics snapshotted next may miss events.
    */
  def drain(sc: SparkContext, timeoutMillis: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMillis)
    catch { case _: java.util.concurrent.TimeoutException =>
      System.err.println(
        s"[ListenerDrain] listener bus not empty after $timeoutMillis ms; " +
          "metrics snapshotted now may miss events")
    }
}
