package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.core.SessionTuning
import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.FormattedMode

/** Profiles declared queries in the session Bench runs
  * ([[SessionTuning.builder]]); a development tool, run by hand:
  * {{{ sbt "runMain graft.Profile <mode> [query...]" }}}
  * No query named means every declared query. `SPARK_GRAFT_SF_DIR`
  * (default sf0.1) and `SPARK_GRAFT_CPUS` (default 32) as for Bench. Each
  * mode but `plans` runs a warm-up pass, then a timed pass with the mode's
  * instrumentation attached, both through the noop sink as Bench does:
  *
  *  - `time`: warm-up and timed seconds.
  *  - `jobs`: one row per Spark job with its wall time, task count,
  *    executor task time and the DRIVER GAP since the previous job ended
  *    (planning, manifest IO, commit protocol). Lifecycle queries are many
  *    small commits; this tells whether the time is in the jobs or between
  *    them.
  *  - `tasks`: the most frequent frames of running executor task threads,
  *    sampled every 2 ms — in-task CPU by callee.
  *  - `driver`: the same sampling over every other thread, counted only
  *    while no job runs — the driver gaps by callee.
  *  - `rules`: the Catalyst rules that took the most time.
  *  - `plans [outDir tag]`: each formatted physical plan, printed, or
  *    written to `<outDir>/<query>_<tag>.txt`.
  *  - `dvscan [dir]`: no queries; the columnar deletion-vector scan layer
  *    on a fixed table (see [[dvscan]]).
  *
  * A failing query is reported and the rest still run; the exit status is
  * then 1. */
object Profile {
  private val Modes =
    Seq("time", "jobs", "tasks", "driver", "rules", "plans", "dvscan")

  def main(args: Array[String]): Unit = {
    require(args.headOption.exists(Modes.contains), "usage: graft.Profile " +
      s"<${Modes.mkString("|")}> [query...]; plans [outDir tag] [query...]" +
      "; dvscan [dir]")
    val mode = args.head
    if (mode == "dvscan") {
      val spark = SessionTuning.builder(defaultCpus = 32).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      try dvscan(spark, Paths.get(args.lift(1).getOrElse("target/dvscan")))
      finally spark.stop()
      return
    }
    val queries = SparkEntry.queries
    val (outDir, named) = args.toSeq.tail match {
      case Seq(dir, tag, rest @ _*)
          if mode == "plans" && !queries.contains(dir) =>
        (Some((Paths.get(dir), tag)), rest)
      case rest => (None, rest)
    }
    val unknown = named.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val names =
      if (named.nonEmpty) named else SparkEntry.allQueries.map(_.name)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SessionTuning.builder(defaultCpus = 32).getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    def pass(name: String): Double = {
      val t0 = System.nanoTime()
      queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    /** The warm-up pass, then the timed pass between `start` and `stop` of
      * the mode's instrumentation. Returns the (warm-up, timed) seconds. */
    def passes(name: String, start: () => Unit = () => (),
        stop: () => Unit = () => ()): (Double, Double) = {
      val warm = pass(name)
      start()
      val timed = try pass(name) finally stop()
      (warm, timed)
    }

    def profile(n: String): Unit = mode match {
      case "time" =>
        val (warm, timed) = passes(n)
        println(f"TIME $n%-28s warm=$warm%8.3f timed=$timed%8.3f")

      case "jobs" =>
        val log = new JobLog(sc)
        val (warm, timed) = passes(n, log.start, log.stop)
        log.print(n, warm, timed)

      case "tasks" =>
        val s = new StackSampler((t, _) => t.getName.startsWith(ExecutorThread))
        passes(n, s.start, s.stop)
        println(s"=== $n executor-thread samples (inclusive) ===")
        top(s.frames, 80)

      case "driver" =>
        val log = new JobLog(sc)
        val s = new StackSampler(
          (t, st) => !t.getName.startsWith(ExecutorThread) && !idle(st.head),
          () => log.noJobRunning)
        val (_, timed) = passes(n, () => { log.start(); s.start() },
          () => { s.stop(); log.stop() })
        println(f"=== $n driver-gap samples (timed $timed%.2fs, " +
          s"gapTicks ${s.ticks} busyTicks ${s.skipped}) ===")
        println("--- busy threads during gaps ---")
        top(s.threads, 15)
        println("--- frames (inclusive) ---")
        top(s.frames, 100)

      case "rules" =>
        val (warm, timed) = passes(n, start = () => RuleExecutor.resetMetrics())
        println(f"\n=== $n: warmup $warm%.2fs timed $timed%.2fs ===")
        // the dump lists the rules by total time, longest first, below a
        // "Rule ..." column header
        val (header, rules) = RuleExecutor.dumpTimeSpent().linesIterator
          .toSeq.span(!_.startsWith("Rule "))
        (header ++ rules.take(41)).foreach(println)

      case "plans" =>
        val plan = queries(n)(spark, sfDir).queryExecution
          .explainString(FormattedMode)
        outDir match {
          case Some((dir, tag)) =>
            Files.createDirectories(dir)
            Files.writeString(dir.resolve(s"${n}_$tag.txt"), plan)
            println(s"[profile] $n -> ${n}_$tag.txt")
          case None =>
            println(s"\n========== $n ==========")
            println(plan)
        }
    }

    val failed = names.filterNot { n =>
      try { profile(n); true }
      catch { case NonFatal(e) =>
        System.err.println(s"[profile] $n FAILED: ${e.getMessage}")
        false
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  /** The deletion-vector scan layer on fixed input: 1,000,000 rows in 32
    * key-clustered files, then every 997th key deleted through deletion
    * vectors, so every file points at one shared sidecar. Times a
    * wide-projection aggregate (a bare count would decode one column and
    * hide decode costs) k = 5 times per condition and prints the median
    * and the spread (min–max):
    *
    *  - `clean_columnar`: before the delete, no vectors anywhere;
    *  - `dv_columnar_cold` / `dv_columnar_warm`: the vectored files through
    *    the columnar reader, with the sidecar cache emptied before each
    *    pass (every pass decodes the sidecar once) or kept warm;
    *  - `dv_row_cold` / `dv_row_warm`: the same through the row reader
    *    (`option("columnar","false")`).
    *
    * Every pass's result is checked against the expected live rows. */
  private def dvscan(spark: org.apache.spark.sql.SparkSession,
      dir: java.nio.file.Path): Unit = {
    import org.apache.spark.sql.functions._
    import graft.sources.DvSidecar
    import graft.storage.{CowTable, TableConfig}
    import spark.implicits._
    val n = 1000000L
    val files = 32
    CowTable.deleteRecursively(dir)
    val root = dir.resolve("t").toString
    val t = CowTable(spark, root, TableConfig("t", Seq("id"),
      clusterByKey = true, changeDataFeed = true, deletionVectors = true))
    t.create(spark.range(0, n, 1, files).select(
      $"id",
      concat(lpad($"id".cast("string"), 12, "0"), lit("-"),
        md5(concat($"id".cast("string"), lit("-pay")))).as("payload"),
      ($"id" % 997 * 1.5).as("v")))

    def wideAgg(columnar: Boolean): (Long, Long) = {
      val r = spark.read.format("graft")
        .option("columnar", columnar.toString).load(root)
        .agg(sum(length($"payload")), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    def timed(name: String, expect: (Long, Long), cold: Boolean,
        columnar: Boolean): Unit = {
      wideAgg(columnar) // warm-up: classes, plan caches, page cache
      val secs = (1 to 5).map { _ =>
        if (cold) DvSidecar.clear()
        val t0 = System.nanoTime()
        val got = wideAgg(columnar)
        val s = (System.nanoTime() - t0) / 1e9
        require(got == expect, s"$name: got $got, expected $expect")
        s
      }.sorted
      println(f"DVSCAN $name%-18s k=5 median=${secs(2)}%.3f " +
        f"min=${secs.head}%.3f max=${secs.last}%.3f s")
    }

    val clean = wideAgg(columnar = true)
    require(clean._2 == n, s"fixture holds ${clean._2} rows, not $n")
    timed("clean_columnar", clean, cold = false, columnar = true)

    t.delete((0L until n by 997L).toDF("id"))
    val m = t.manifest(t.currentVersion)
    require(m.files.size == files && m.files.forall(_.dvPath.isDefined) &&
      m.files.flatMap(_.dvPath).distinct.size == 1,
      "every file must point at the one sidecar")
    val live = (m.rowCount, n - (n + 996) / 997)
    require(live._1 == live._2, s"live rows ${live._1}, expected ${live._2}")
    val expect = wideAgg(columnar = false)
    require(expect._2 == live._2 && wideAgg(columnar = true) == expect)
    DvSidecar.clear()
    wideAgg(columnar = true)
    println(s"DVSCAN files=$files rows=$n deleted=${n - live._2} " +
      s"sidecar decodes per cold scan=${DvSidecar.decodes}")
    timed("dv_columnar_cold", expect, cold = true, columnar = true)
    timed("dv_columnar_warm", expect, cold = false, columnar = true)
    timed("dv_row_cold", expect, cold = true, columnar = false)
    timed("dv_row_warm", expect, cold = false, columnar = false)
  }

  private val ExecutorThread = "Executor task launch worker"

  /** Poll and wait frames of threads that are RUNNABLE but idle. */
  private def idle(top: StackTraceElement): Boolean =
    top.getClassName.startsWith("sun.nio.ch") ||
      Seq("park", "accept", "poll", "wait")
        .exists(w => top.getMethodName.toLowerCase.contains(w))

  private def top(counts: ConcurrentHashMap[String, Integer], n: Int): Unit =
    counts.asScala.toSeq.sortBy(-_._2.intValue).take(n)
      .foreach { case (k, c) => println(f"${c.intValue}%6d  $k") }

  /** Samples every 2 ms, from [[start]] to [[stop]], the stacks of the
    * RUNNABLE threads `keep` selects. A sample counts each distinct frame
    * once (inclusive time) and each thread family (trailing number folded
    * to N). A tick samples only while `gate` holds; `skipped` counts the
    * other ticks. */
  private final class StackSampler(
      keep: (Thread, Array[StackTraceElement]) => Boolean,
      gate: () => Boolean = () => true) {
    val frames = new ConcurrentHashMap[String, Integer]()
    val threads = new ConcurrentHashMap[String, Integer]()
    var ticks, skipped = 0
    @volatile private var running = true
    private val sampler = new Thread(() => {
      while (running) {
        if (!gate()) skipped += 1
        else {
          ticks += 1
          Thread.getAllStackTraces.forEach { (t, st) =>
            if ((t ne Thread.currentThread()) && st.nonEmpty &&
                t.getState == Thread.State.RUNNABLE && keep(t, st)) {
              threads.merge(t.getName.replaceAll("\\d+$", "N"), 1,
                (a, b) => a + b)
              st.map(f => f.getClassName + "." + f.getMethodName).distinct
                .foreach(k => frames.merge(k, 1, (a, b) => a + b))
            }
          }
        }
        Thread.sleep(2)
      }
    }, "profile-sampler")
    sampler.setDaemon(true)

    def start(): Unit = sampler.start()
    def stop(): Unit = { running = false; sampler.join() }
  }

  /** Every Spark job between [[start]] and [[stop]]: start and end time,
    * tasks and executor run time summed over its stages, a description. */
  private final class JobLog(sc: SparkContext) extends SparkListener {
    final class Job(val id: Int, val start: Long, val desc: String) {
      var end = -1L
      var tasks = 0
      var taskMs = 0L
    }
    private val jobs = TrieMap[Int, Job]()
    private val stageJob = TrieMap[Int, Job]()
    private val running = new AtomicInteger
    private var wall0, wallEnd = 0L

    def start(): Unit = {
      sc.addSparkListener(this)
      wall0 = System.currentTimeMillis()
    }
    def stop(): Unit = {
      wallEnd = System.currentTimeMillis()
      ListenerBusDrain(sc)
      sc.removeSparkListener(this)
    }
    def noJobRunning: Boolean = running.get == 0

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      running.incrementAndGet()
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val desc = prop("spark.job.description").orElse(prop("callSite.short"))
        .orElse(e.stageInfos.lastOption.map(_.name))
        .getOrElse("")
      val j = new Job(e.jobId, e.time, desc)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      running.decrementAndGet()
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageJob.get(e.stageInfo.stageId).foreach { j =>
        j.tasks += e.stageInfo.numTasks
        j.taskMs += e.stageInfo.taskMetrics.executorRunTime
      }

    /** One row per job in start order; a gap is driver time between the end
      * of the previous job (or `wall0`) and this job's start. */
    def print(name: String, warm: Double, timed: Double): Unit = {
      val js = jobs.values.toSeq.sortBy(j => (j.start, j.id))
      println(f"\n=== $name: warmup $warm%.2fs timed $timed%.2fs " +
        f"jobs ${js.size} ===")
      println(f"${"job"}%4s ${"gap_ms"}%7s ${"wall_ms"}%8s ${"tasks"}%6s " +
        f"${"taskCPUms"}%9s  desc")
      var prevEnd = wall0
      var gapTotal, wallTotal = 0L
      js.foreach { j =>
        val gap = math.max(0, j.start - prevEnd)
        val wall = if (j.end > 0) j.end - j.start else -1
        gapTotal += gap
        wallTotal += math.max(0, wall)
        val d1 = j.desc.linesIterator.filter(_.nonEmpty).toSeq.lastOption
          .getOrElse("")
        println(f"${j.id}%4d $gap%7d $wall%8d ${j.tasks}%6d " +
          f"${j.taskMs}%9d  ${d1.take(90)}")
        prevEnd = if (j.end > 0) j.end else j.start
      }
      val tailGap = math.max(0, wallEnd - prevEnd)
      println(f"TOTAL gaps(driver) ${gapTotal + tailGap}%d ms " +
        f"(incl. tail $tailGap%d), job wall $wallTotal%d ms, " +
        f"timed ${math.round(timed * 1000)}%d ms")
    }
  }
}
