package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus: the benchmark drains it
  * before reading the engine listener, so every task of a finished
  * action has been tallied.
  */
object BusHook {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
