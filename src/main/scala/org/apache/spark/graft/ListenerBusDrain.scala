package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a listener that reports
  * on the jobs a block ran (a job count, a per-job profile) must wait until
  * their events have been delivered. `waitUntilEmpty` is Spark-internal,
  * hence this bridge. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
