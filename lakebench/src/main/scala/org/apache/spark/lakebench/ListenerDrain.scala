package org.apache.spark.lakebench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a per-operation
  * attribution must wait until every event of the operation's jobs has
  * been delivered. `waitUntilEmpty` is Spark-internal, hence this bridge. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
