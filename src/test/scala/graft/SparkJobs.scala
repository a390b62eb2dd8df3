package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. Jobs are attributed through a
  * unique local property set on the calling thread (and inherited by the
  * threads it starts), so jobs of other sessions or threads sharing the
  * context are not counted. */
object SparkJobs {
  private val Tag = "graft.test.jobCount"

  def counted[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID.toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Tag) == id)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    val prev = sc.getLocalProperty(Tag)
    sc.setLocalProperty(Tag, id)
    try {
      val out = body
      ListenerBusDrain(sc)
      (out, n.get)
    } finally {
      sc.setLocalProperty(Tag, prev)
      sc.removeSparkListener(listener)
    }
  }
}
