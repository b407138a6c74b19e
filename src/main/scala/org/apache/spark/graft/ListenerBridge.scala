/*
 * Lives under org.apache.spark.* because LiveListenerBus.waitUntilEmpty is
 * private[spark] (the same bridge pattern as org.apache.spark.sql.graft for
 * private[sql] expression APIs). Used by the bench instrument to drain the
 * async listener bus before snapshotting per-query task metrics — without
 * it, a query's tail stage-completed events get attributed to the next
 * query's measurement window — and by `graft.plans.Explain.capture`, for
 * the same reason, before reading a query's executed plans.
 */
package org.apache.spark.graft

import org.apache.spark.SparkContext

object ListenerBridge {
  /** Block until all queued listener events are delivered (bounded). */
  def drain(sc: SparkContext, timeoutMs: Long = 2000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Throwable => () } // timeout → stale tail events tolerated
}
