package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus (bytecode-public —
  * Spark's own suites call it between every job and assertion) so
  * graft can drain the ASYNC bus deterministically where a counter
  * read follows listener-maintained state: [[graft.RunRecorder]]
  * closing a window, and SparkSuite.afterAll reading the
  * unexpected-retry counter at suite boundaries. A time-based sleep
  * instead either misses a late-delivered event or credits it to the
  * next reader.
  *
  * Lives under `org.apache.spark` purely for access; nothing here
  * touches Spark state — one blocking read of queue emptiness.
  */
object ListenerBusBridge {
  /** Block until every queued listener event has been delivered, or
    * `timeoutMillis` elapses. A timeout is surfaced (never swallowed):
    * a bus that cannot drain in 30 s means a listener is wedged, and
    * the counter read that follows would be misattributed. */
  def waitUntilEmpty(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
