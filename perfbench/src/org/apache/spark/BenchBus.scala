package org.apache.spark

/** The listener bus delivers events on its own thread, so a listener read
  * right after an action can miss the action's last task and stage events.
  * `drain` waits until every posted event has been delivered. It lives in
  * this package because `SparkContext.listenerBus` is `private[spark]`.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
