package org.apache.spark

/** Waits until the listener bus has delivered every posted event
  * (`waitUntilEmpty` is private[spark]), so a spec can read what its
  * listeners saw, or what they did, after a job or an unpersist. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
