package graft.lakebench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed interval. `parent` is -1 for a root; spans of one operation
  * share `op`. Times are epoch milliseconds. */
final case class Span(
    id: Int, parent: Int, op: Int, name: String, start: Double, end: Double)

/** Spans and per-operation counters, recorded from outside the engine: a
  * SparkListener for jobs and task metrics, and timers around the calls the
  * benchmark makes into each layer. Everything stays in memory until the
  * run writes it out. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()
  private var nextSpan = 0
  private val sc = spark.sparkContext

  private final class OpStats {
    val jobs = mutable.ArrayBuffer[(Double, Double)]()
    var bytesRead, recordsRead, cpuNs, shuffleWrite, shuffleRead = 0L
  }
  private val byOp = new ConcurrentHashMap[Int, OpStats]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val jobOp = new ConcurrentHashMap[Int, (Int, Double)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
        .foreach { s =>
          val op = s.toInt
          jobOp.put(e.jobId, (op, e.time.toDouble))
          e.stageIds.foreach(stageOp.put(_, op))
        }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOp.remove(e.jobId)).foreach { case (op, start) =>
        stats(op).synchronized { stats(op).jobs += ((start, e.time.toDouble)) }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { op =>
        val m = e.taskMetrics
        if (m != null) {
          val s = stats(op)
          s.synchronized {
            s.bytesRead += m.inputMetrics.bytesRead
            s.recordsRead += m.inputMetrics.recordsRead
            s.cpuNs += m.executorCpuTime
            s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          }
        }
      }
  }
  sc.addSparkListener(listener)

  private def stats(op: Int): OpStats =
    byOp.computeIfAbsent(op, _ => new OpStats)

  private def now(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  private def addSpan(parent: Int, op: Int, name: String, s: Double,
      e: Double): Int = {
    val id = nextSpan
    nextSpan += 1
    spans += Span(id, parent, op, name, s, e)
    id
  }

  /** Run `body` as operation `op` under a root span `name`; `body` gets
    * the root span's id so its own spans can nest under it, and the spans
    * of the operation's Spark jobs, clipped to the operation, become the
    * root's children. Returns the result and the operation's task and GC
    * counters. */
  def op[T](op: Int, name: String)(body: Int => T): (T, Map[String, Double]) = {
    val root = nextSpan
    nextSpan += 1
    sc.setLocalProperty(OpProperty, op.toString)
    val gc0 = gcMs()
    val s = now()
    val r = try body(root) finally sc.setLocalProperty(OpProperty, null)
    val e = now()
    val gc = gcMs() - gc0
    org.apache.spark.lakebench.ListenerDrain(sc)
    spans += Span(root, -1, op, name, s, e)
    val st = stats(op)
    st.jobs.foreach { case (a, b) =>
      addSpan(root, op, "spark.job", math.max(a, s), math.min(b, e)) }
    (r, Map(
      "bytes_read" -> st.bytesRead.toDouble,
      "records_read" -> st.recordsRead.toDouble,
      "task_cpu_ms" -> st.cpuNs / 1e6,
      "shuffle_write_bytes" -> st.shuffleWrite.toDouble,
      "shuffle_read_bytes" -> st.shuffleRead.toDouble,
      "gc_ms" -> gc))
  }

  /** Time `body` as a child span of `parent` (or a root span, -1). */
  def span[T](parent: Int, op: Int, name: String)(body: => T): (T, Double) = {
    val s = now()
    val r = body
    val e = now()
    addSpan(parent, op, name, s, e)
    (r, e - s)
  }

  /** Time physical planning of `df` (analysis, graft's rules, pushdown and
    * manifest pruning) before it executes; `collect` afterwards reuses the
    * planned query execution. */
  def plan(parentSpan: Int, op: Int, df: DataFrame): Double =
    span(parentSpan, op, "planning")(df.queryExecution.executedPlan)._2

  def close(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  val OpProperty = "lakebench.op"

  def gcMs(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble
}

/** The engine's driver-side folded-manifest cache (an LRU), saved before a
  * traced run's probes and put back after them. A probe evicts the cache
  * to time cold reads, or fills it by folding a version; without this the
  * next timed operation would find a cache that the untraced run never
  * has (a warm `fresh` read, a cold `travel` read). */
object ManifestCacheState {
  private lazy val cache: java.util.Map[AnyRef, AnyRef] = {
    val f = graft.storage.CowTable.getClass.getDeclaredFields
      .find(_.getName.endsWith("manifestCache"))
      .getOrElse(sys.error("CowTable has no manifestCache field"))
    f.setAccessible(true)
    f.get(graft.storage.CowTable).asInstanceOf[java.util.Map[AnyRef, AnyRef]]
  }

  /** Run `body`, then restore the cache's entries in their LRU order. */
  def preserved[T](body: => T): T = {
    val saved = cache.synchronized(cache.asScala.toList)
    try body
    finally cache.synchronized {
      cache.clear()
      saved.foreach { case (k, v) => cache.put(k, v) }
    }
  }
}
