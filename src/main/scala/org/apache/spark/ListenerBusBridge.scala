package org.apache.spark

import java.util.concurrent.TimeoutException

/** Re-exports the `private[spark]` listener-bus drain to the engine's
  * tools: a listener's records are complete only once every event
  * posted before the read has been delivered. */
object ListenerBusBridge {
  /** Waits until the bus has delivered every event posted so far, for
    * at most `timeoutMs`; false if the wait timed out. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: TimeoutException => false }
}
