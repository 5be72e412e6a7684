package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** `listenerBus` is `private[spark]`: the benchmark waits on it so its
  * listener has seen every event of the operations it just timed. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
