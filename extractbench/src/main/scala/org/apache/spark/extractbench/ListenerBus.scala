package org.apache.spark.extractbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; this object lives in
  * the `org.apache.spark` package only to let the benchmark wait until
  * every task-end event has reached its listener before reading it. */
object ListenerBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
