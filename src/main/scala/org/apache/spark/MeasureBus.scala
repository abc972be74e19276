package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener read right after an action sees all of the action's stages.
  * It lives in this package because `SparkContext.listenerBus` is
  * `private[spark]`.
  */
object MeasureBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
