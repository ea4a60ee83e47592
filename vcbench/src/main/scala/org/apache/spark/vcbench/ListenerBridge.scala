package org.apache.spark.vcbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; its drain is
  * package-private to Spark, hence this bridge. */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
