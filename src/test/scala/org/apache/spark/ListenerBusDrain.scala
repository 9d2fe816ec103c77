package org.apache.spark

/** Waits until the listener bus has delivered every posted event.
  *
  * `SparkContext.listenerBus` is `private[spark]`, so this one call
  * lives in Spark's package. PlanShapeSpec's physical window sweep
  * needs it: query-execution events arrive asynchronously, and each
  * key's findings must be delivered before the next key starts.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
