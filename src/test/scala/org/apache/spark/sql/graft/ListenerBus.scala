package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession

/** Block until every queued listener event has been delivered —
  * `listenerBus.waitUntilEmpty` is `private[spark]`, so the metrics
  * specs (task-grain skew bounds, scan-pruning counters) reach it
  * through this bridge instead of sleeping and hoping.
  */
object ListenerBus {
  def drain(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty(30000L)
}
