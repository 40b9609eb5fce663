package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one `private[spark]` surface the harness needs: waiting for the
  * asynchronous listener bus, so each op's events are credited before the
  * next op starts.
  */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
