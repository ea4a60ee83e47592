package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously and its drain is
  * package-private to Spark — specs that count jobs drain through this
  * bridge before reading their listener. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
