package graft

import java.nio.file.{Files, Paths}

/** Benchmark main. Per query: one unmeasured warmup pass (session/codegen
  * warmup otherwise lands on whichever query runs first), then one timed pass
  * forced through the noop sink — full materialization of every projected
  * column, so Catalyst can't prune the very expressions a query exists to
  * measure (a bare .count() lets it). Failures are reported in the JSON
  * (never swallowed into a fast fake timing). The JSON line is printed to
  * stdout AND written to SPARK_GRAFT_BENCH_OUT (default BENCH.json) so the
  * driver can parse it out of sbt log noise.
  *
  * CONTAMINATION TELEMETRY (round-3 lesson: a driver bench polluted by a
  * concurrent process recorded 86s for a 2s query, and nothing in the
  * artifact said so): the JSON now carries `/proc/loadavg` at start/end,
  * total JVM GC seconds across the run, per-query warmup wall times, and a
  * `remeasured` map — any query whose timed pass exceeded 3x its own warmup
  * (and 1s absolute) is automatically re-measured once and the minimum is
  * reported, with both raw values preserved. A contaminated run is now
  * self-evident from the artifact instead of needing a manual re-run.
  *
  * ROUND-13 addition (the round-12 q100 lesson: warm 11.6s + timed 8.85s
  * both contended, so the timed>3x-warmup trigger never fired): the
  * remeasure ALSO triggers against the committed quiet-machine bracket
  * (`tools/quiet_brackets.json`, refreshed whenever a quiet full-suite run
  * lands) — timed > 2x the bracket (and 1s absolute) is contention by
  * definition, regardless of what the warmup did. Queries without a
  * bracket (new this round) keep the warmup-only rule. Override the file
  * with SPARK_GRAFT_BRACKETS; a missing/unparseable file degrades to the
  * warmup rule alone.
  */
object Bench {
  private def loadavg(): String =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).trim)
      .getOrElse("unavailable")

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** PRE-FLIGHT LOAD GATE (round-4 lesson: the driver started a bench at
    * loadavg 2.70 and burned the round's headline numbers): if the 1-min
    * loadavg exceeds the threshold, wait (bounded) for the machine to go
    * quiet before measuring anything. The decision is recorded in the JSON
    * (`gate_waited_sec`, `gate_satisfied`) so a run that had to start on a
    * busy box says so in the artifact. Tunables via env:
    * SPARK_GRAFT_LOAD_GATE (threshold, default 1.0; <=0 disables),
    * SPARK_GRAFT_LOAD_GATE_MAX_WAIT (seconds, default 300). */
  private def loadGate(): (Double, Boolean) = {
    val threshold =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "1.0").toDouble
    val maxWaitSec =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE_MAX_WAIT", "300").toInt
    def load1(): Double =
      scala.util.Try(loadavg().split("\\s+")(0).toDouble).getOrElse(0.0)
    if (threshold <= 0) return (0.0, true)
    val t0 = System.nanoTime()
    var cur = load1()
    while (cur > threshold &&
      (System.nanoTime() - t0) / 1e9 < maxWaitSec) {
      System.err.println(
        f"[bench] load gate: 1-min loadavg $cur%.2f > $threshold%.2f — " +
          "waiting for the machine to go quiet")
      Thread.sleep(5000)
      cur = load1()
    }
    val waited = (System.nanoTime() - t0) / 1e9
    if (cur > threshold) System.err.println(
      f"[bench] load gate TIMED OUT after $waited%.0fs (loadavg $cur%.2f)" +
        " — results may be contention-polluted")
    (waited, cur <= threshold)
  }

  /** Committed quiet-machine per-query seconds (query → sec). Parsed with a
    * deliberately dumb regex — the file is flat `"name": number` pairs and
    * pulling in a JSON library for it isn't worth a dependency. */
  private def quietBrackets(): Map[String, Double] = {
    val path = sys.env.getOrElse(
      "SPARK_GRAFT_BRACKETS", "tools/quiet_brackets.json")
    scala.util.Try {
      val txt = Files.readString(Paths.get(path))
      """"(q[0-9]+[A-Za-z0-9_]*)"\s*:\s*([0-9.Ee+-]+)""".r
        .findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }.getOrElse(Map.empty)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json")
    val (gateWaited, gateOk) = loadGate()
    val spark = graft.core.SessionTuning.builder(defaultCpus = 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    val loadStart = loadavg()
    val gcStart = gcMillis()

    // optional args = subset of query names (local profiling); default all
    val names0 = SparkEntry.allQueries.map(_.name)
    val names = if (args.nonEmpty) names0.filter(args.contains) else names0
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // warmup: one full timed pass (also JIT/codegen-warms every operator)
    val warmups = names.flatMap { n =>
      val t0 = System.nanoTime()
      try { materialize(n); Some(n -> (System.nanoTime() - t0) / 1e9) }
      catch {
        case e: Throwable => errors(n) = String.valueOf(e.getMessage); None
      }
    }.toMap
    val brackets = quietBrackets()
    // remeasured: name -> (first timing, retiming, 1-min loadavg at retime)
    val remeasured =
      scala.collection.mutable.LinkedHashMap[String, (Double, Double, Double)]()
    def pass(n: String): Double = {
      val t0 = System.nanoTime()
      materialize(n)
      (System.nanoTime() - t0) / 1e9
    }
    val timesMap = scala.collection.mutable.LinkedHashMap[String, Double]()
    names.filterNot(errors.contains).foreach { n =>
      try timesMap(n) = pass(n)
      catch {
        case e: Throwable => errors(n) = String.valueOf(e.getMessage)
      }
    }
    // timed >> its own warmup ⇒ something else was eating the machine
    // during the timed pass; timed >> the committed quiet bracket ⇒
    // contention even when the warmup was contended too (the r12 q100
    // blind spot). Re-measure AFTER the suite drains, behind a fresh load
    // gate — an inline remeasure re-times inside the SAME contention
    // window and systematically confirms the artifact (r14 q132 7.1→19.6,
    // r15 q143 4.6→11.0). Each retiming carries its loadavg stamp.
    val contendedNames = timesMap.collect {
      case (n, t) if (t > 3 * warmups(n) && t > 1.0) ||
        brackets.get(n).exists(b => t > 2 * b && t > 1.0) => n
    }.toSeq
    if (contendedNames.nonEmpty) {
      System.err.println(s"[bench] remeasuring ${contendedNames.size} " +
        s"contended queries after drain: ${contendedNames.mkString(", ")}")
      loadGate() // re-acquire: wait out whatever loaded the timed pass
      contendedNames.foreach { n =>
        val l1 = scala.util.Try(
          loadavg().split("\\s+")(0).toDouble).getOrElse(-1.0)
        try {
          val t2 = pass(n)
          remeasured(n) = (timesMap(n), t2, l1)
          timesMap(n) = math.min(timesMap(n), t2)
        } catch { case _: Throwable => () } // keep the original timing
      }
    }
    val times = timesMap.toSeq

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def jmap(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val qs = jmap(times.map { case (k, v) => k -> v.toString })
    val ws = jmap(times.map { case (k, _) => k -> warmups(k).toString })
    val rs = jmap(remeasured.map { case (k, (a, b, l)) => k -> s"[$a,$b,$l]" })
    val errs = jmap(errors.map { case (k, v) => k -> jstr(v) })
    val total = times.map(_._2).sum
    val gcSec = (gcMillis() - gcStart) / 1e3
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"warmup":$ws,"remeasured":$rs,"errors":$errs,"n_ok":${times.size},"n_err":${errors.size},"loadavg_start":${jstr(loadStart)},"loadavg_end":${jstr(loadavg())},"gate_waited_sec":$gateWaited,"gate_satisfied":$gateOk,"gc_sec":$gcSec,"sf":${jstr(sfDir)}}"""
    Files.writeString(Paths.get(outPath), json + "\n")
    println(json)
    if (errors.nonEmpty) System.err.println(s"[bench] FAILURES: ${errors.keys.mkString(", ")}")
    if (remeasured.nonEmpty) System.err.println(
      s"[bench] REMEASURED (timed >3x warmup or >2x quiet bracket — " +
        "contention suspected): " +
        remeasured.map { case (k, (a, b, l)) =>
          f"$k $a%.2f->$b%.2f (load $l%.2f)" }
          .mkString(", "))
    spark.stop()
  }
}
