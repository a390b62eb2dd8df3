package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a count of the jobs a
  * block started must wait until their start events have been delivered.
  * `waitUntilEmpty` is Spark-internal, hence this bridge. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
