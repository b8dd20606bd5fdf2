package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is private[spark]; task-metric listeners (the
  * benchmark's tracer) need `waitUntilEmpty` so a query's async task-end
  * events are drained before attribution (a fixed sleep can lose or
  * misattribute events under a slow bus). Same pattern as
  * [[org.apache.spark.sql.graftbridge.ColumnBridge]] for private[sql].
  */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
