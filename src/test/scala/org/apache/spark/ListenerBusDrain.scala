package org.apache.spark

/** Test access to the private listener-bus drain: a spec that counts
  * events with its own `SparkListener` waits for every posted event to
  * be delivered before it reads the count. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
