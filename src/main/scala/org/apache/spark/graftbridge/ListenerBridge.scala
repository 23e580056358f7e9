package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Listener-bus bridge: `SparkContext.listenerBus` is private[spark], but
  * code that reads a listener's aggregates (the stream bench stage's jobs
  * per epoch, the specs' job and plan counts) must first drain the async
  * listener bus — a fixed sleep undercounts on a loaded box. Lives under
  * org.apache.spark for the access, same pattern as sql.graftbridge.Bridge.
  */
object ListenerBridge {
  /** Block until the listener bus has delivered every queued event, or
    * the timeout elapses (best-effort — never throws).
    */
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Throwable => () }
}
