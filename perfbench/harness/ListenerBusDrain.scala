package org.apache.spark

/** Waits until the listener bus has delivered every posted event.
  *
  * `SparkContext.listenerBus` is `private[spark]`, so this one call
  * lives in Spark's package. The traced passes need it: listener events
  * arrive asynchronously, and a pass's counters are read only after all
  * of its events (task ends, SQL executions, streaming progress) have
  * been delivered.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
