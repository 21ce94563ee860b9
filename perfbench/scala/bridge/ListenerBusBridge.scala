package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; the harness needs one call on it:
  * block until every posted event reached the listeners, so a pass's jobs
  * and streaming progress are all recorded before the pass is summarized.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
