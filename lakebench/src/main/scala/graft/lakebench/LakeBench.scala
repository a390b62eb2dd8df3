package graft.lakebench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import graft.operators.CdcDedup
import graft.pipeline.CdcPipeline
import graft.storage.{CkptPred, CowTable, StatOrd, TableConfig}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.json4s.NoTypeHints
import org.json4s.jackson.Serialization

/** The lake benchmark's program: one workload, one seed, one closed-loop
  * client on `local[nproc]`, driving the engine only through its public
  * entry points. It writes a raw result (every timed operation, the
  * deterministic-prefix ratios, correctness, run hygiene and, when traced,
  * the per-operation layer counters and spans) as JSON; `run.py` turns it
  * into metrics.
  *
  * Usage: LakeBench --workload cdc_merge|lake_serve --seed N --seconds S
  *   --trace 0|1 --work DIR --out FILE [--scale full|tiny]
  */
object LakeBench {

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path, scale: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath, m.getOrElse("scale", "full"))
    require(Workload.names.contains(o.workload),
      s"unknown workload ${o.workload}; one of ${Workload.names.mkString(", ")}")
    o
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadavg()
    val steal0 = stealS()
    val gc0 = Tracer.gcMs()
    Files.createDirectories(o.work)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.core.SessionTuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("graft.parquetCheckpointMinFiles", Workload.CheckpointMinFiles))
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis - jvmStart) / 1000.0
    val result = try new Workload(spark, o).run()
    finally spark.stop()
    val out = result ++ Map(
      "workload" -> o.workload, "seed" -> o.seed, "scale" -> o.scale,
      "trace" -> o.trace, "cpus" -> cpus, "session_s" -> sessionS,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadavg(),
      "steal_s" -> (stealS() - steal0),
      "gc_s" -> (Tracer.gcMs() - gc0) / 1000.0, "heap_committed_mb" -> LiveHeap.committedMb)
    Files.createDirectories(o.out.getParent)
    Files.writeString(o.out, Serialization.write(out)(Serialization.formats(NoTypeHints)))
  }

  def loadavg(): String =
    Try(Files.readString(Paths.get("/proc/loadavg")).trim).getOrElse("")

  /** CPU time the hypervisor gave to others while this machine wanted it
    * (`steal` of /proc/stat, all CPUs), in seconds: a run with much of it
    * was measured on a busy host. */
  def stealS(): Double =
    Try(Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim
      .split("\\s+")(8).toDouble / 100).getOrElse(0.0)

  /** Peak resident set (VmHWM) of this process, in MiB. */
  def peakRssMb(): Double =
    Try(Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)).getOrElse(0.0)
}

/** The heap the program keeps live: the bytes still in use in the heap
  * pools right after a full collection. */
object LiveHeap {
  import java.lang.management.{ManagementFactory, MemoryType}

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  /** Collect the whole heap, then the live bytes, in MiB. */
  def collectMb(): Double = {
    System.gc()
    heapPools.map(_.getCollectionUsage.getUsed).sum / 1048576.0
  }

  def committedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0
}

object Workload {
  val names = Seq("cdc_merge", "lake_serve")
  val SetupReps = 3

  /** Measured cycles every run makes, whatever `--seconds` says: the
    * engine is still warming up over the first cycles (merges get 10-15%
    * faster per cycle), so runs that measured different cycle counts
    * would not be comparable. A run keeps going past these while
    * `--seconds` have not passed. `cdc_merge` cycles are short (about
    * 4 s); 3 of them left its medians on the steep part of the warm-up
    * curve, twice as spread over ten seeds as 5. The `tiny` scale of the
    * determinism check measures 3. */
  def minCycles(w: String, scale: String): Int =
    if (w == "cdc_merge" && scale == "full") 4 else 3

  /** Dimension MERGEs per `lake_serve` cycle: one is 3 samples of a
    * 0.4 s statement per run, whose median spread 0.2 over ten seeds. */
  val DimMerges = 2

  /** The session's `graft.parquetCheckpointMinFiles`. Every merged
    * table has more files, so its commits write the parquet checkpoint
    * plus the delta-manifest chain, as a 512+ file table does under the
    * engine default. */
  val CheckpointMinFiles = 16

  /** Sizes. `full` is what the benchmark measures; `tiny` is for the
    * determinism check. */
  def shape(w: String, scale: String): Shape = (w, scale) match {
    case ("cdc_merge", "full") => Shape(32000, 1000, 2000, 1200, 3200, partitioned = false)
    case ("lake_serve", "full") => Shape(24000, 1000, 1000, 600, 0, partitioned = true)
    case ("cdc_merge", "tiny") => Shape(4000, 100, 200, 120, 400, partitioned = false)
    case ("lake_serve", "tiny") => Shape(4000, 100, 200, 120, 0, partitioned = true)
    case _ => sys.error(s"no shape for $w/$scale")
  }
}

final class Workload(spark: SparkSession, o: LakeBench.Opts) {
  import Workload._

  private val shape = Workload.shape(o.workload, o.scale)
  private val data = new Data(spark, o.seed, shape)
  private val tracer = if (o.trace) Some(new Tracer(spark)) else None
  private val cols = data.tableCols
  private val landDir = o.work.resolve("land")

  private val ops = mutable.ArrayBuffer[mutable.Map[String, Any]]()
  private val mismatches = mutable.ArrayBuffer[String]()
  private var nextOp = 0
  private var cycle = 0
  private def traced = o.trace && cycle % 2 == 0

  /** Landed files and bytes per batch, in order. */
  private val landed = mutable.ArrayBuffer[(Int, Seq[String], Long)]()
  /** Table version after each batch (0 = as created). */
  private val versionAfter = mutable.Map[Int, Int]()
  /** Last result of each read class, with the replay query it must equal. */
  private val lastRead = mutable.Map[String, (Array[Row], () => DataFrame)]()

  private var tables: Seq[CowTable] = Nil
  private def table(name: String) = tables.find(_.config.tableName == name).get
  private def traceOn = tracer.filter(_ => traced)

  // ---------------------------------------------------------------- setup

  private def configs: Seq[TableConfig] = o.workload match {
    case "cdc_merge" => Seq(
      TableConfig("api", Seq("id"), precombineKey = Some("seq"),
        maxRecordsPerFile = shape.rowsPerFile),
      TableConfig("sql", Seq("id"), maxRecordsPerFile = shape.rowsPerFile))
    case "lake_serve" => Seq(
      TableConfig("fact", Seq("id"), partitionKey = Some("month"),
        maxRecordsPerFile = shape.rowsPerFile, statsColumns = Seq("event_ts"),
        changeDataFeed = true, deletionVectors = true),
      TableConfig("dim", Seq("dim_id")))
  }

  /** Generate and load every table of the workload under `dir`. */
  private def build(dir: Path): Seq[CowTable] = configs.map { c =>
    val t = CowTable(spark, dir.resolve(c.tableName).toString, c)
    t.create(if (c.tableName == "dim") data.dim else data.initial)
    t
  }

  /** Data generation and initial load, `SetupReps` times into fresh
    * directories; the last build is the one the run uses. */
  private def setup(): Seq[Double] = {
    val times = (1 to SetupReps).map { rep =>
      val dir = o.work.resolve(s"tables-$rep")
      val t0 = System.nanoTime
      tables = build(dir)
      val s = (System.nanoTime - t0) / 1e9
      if (rep > 1) CowTable.deleteRecursively(o.work.resolve(s"tables-${rep - 1}"))
      s
    }
    val sqlTable = if (o.workload == "cdc_merge") "sql" else "dim"
    spark.sql(s"DROP TABLE IF EXISTS lb_$sqlTable")
    spark.sql(s"CREATE TABLE lb_$sqlTable USING graft LOCATION '${table(sqlTable).root}'")
    versionAfter(0) = mergedRoots.head.currentVersion
    times
  }

  // ------------------------------------------------------------ operations

  /** One timed operation. Failures are counted, never retried; traced
    * operations also collect the tracer's counters. */
  private def timed[T](kind: String)(
      body: (Int, mutable.Map[String, Any]) => T)
      : (Option[T], mutable.Map[String, Any]) = {
    val op = nextOp
    nextOp += 1
    val rec = mutable.Map[String, Any]("op" -> op, "kind" -> kind,
      "cycle" -> cycle, "traced" -> traced)
    val steal0 = LakeBench.stealS()
    val t0 = System.nanoTime
    val r = Try(traceOn match {
      case Some(tr) =>
        val (v, counters) = tr.op(op, kind)(body(_, rec))
        rec ++= counters
        v
      case None => body(-1, rec)
    })
    rec("ms") = (System.nanoTime - t0) / 1e6
    rec("steal_ms") = (LakeBench.stealS() - steal0) * 1000
    rec("ok") = r.isSuccess
    r match {
      case Failure(e) =>
        System.err.println(s"[lakebench] $kind failed in cycle $cycle: $e")
      case Success(_) =>
    }
    ops += rec
    (r.toOption, rec)
  }

  private def read(t: CowTable, version: Option[Int] = None): DataFrame = {
    val r = spark.read.format("graft")
    version.fold(r)(v => r.option("versionAsOf", v.toLong)).load(t.root.toString)
  }

  /** A read-class query: `q` over the engine's table, collected. The last
    * result of each class is checked against `q` over the replay. */
  private def query(cls: String, t: CowTable, version: Option[Int] = None,
      probeKey: Long = 0L)(
      q: DataFrame => DataFrame, replayBase: () => DataFrame): Unit = {
    readOp(cls, t, probeKey)(q(read(t, version)), () => q(replayBase()))
  }

  /** Time one read: build the frame, (traced) time its planning, collect.
    * Traced reads then record scan statistics and probe the manifest. */
  private def readOp(cls: String, t: CowTable, probeKey: Long)(
      mk: => DataFrame, expected: () => DataFrame): Unit = {
    var planned: DataFrame = null
    val (res, rec) = timed(s"query.$cls") { (span, rec) =>
      planned = mk
      traceOn.foreach { tr =>
        rec("planning_ms") = tr.plan(span, rec("op").asInstanceOf[Int], planned) }
      planned.collect()
    }
    res.foreach { rows =>
      lastRead(cls) = (rows, expected)
      rec("rows") = rows.length
    }
    if (traced && res.isDefined) {
      rec("scan_exec_ms") = rec("ms").asInstanceOf[Double] -
        rec("planning_ms").asInstanceOf[Double]
      ManifestCacheState.preserved {
        scanStats(planned, rec)
        manifestProbe(t, probeKey, rec)
      }
    }
  }

  /** Files kept/total and scan output rows from the executed plan; read
    * after timing because the scan description forces a full fold (the
    * caller keeps that fold out of the manifest cache). */
  private def scanStats(df: DataFrame, rec: mutable.Map[String, Any]): Unit = {
    val scans = PlanScans.of(df)
    val ft = scans.flatMap(s => FilesRe.findFirstMatchIn(s.scan.description()))
      .map(m => (m.group(1).toLong, m.group(2).toLong))
    rec("files_kept") = ft.map(_._1).sum
    rec("files_total") = ft.map(_._2).sum
    rec("scan_rows") = scans.flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
  }
  private val FilesRe = "files=(\\d+)/(\\d+)".r

  /** Cold manifest costs of `t`'s latest version, measured right after an
    * operation: the header read, the full fold and the point-key pruned
    * read, each after dropping the folded-manifest cache. Callers run it
    * inside `ManifestCacheState.preserved`, so the next operation finds
    * the cache as this one left it. */
  private def manifestProbe(t: CowTable, key: Long,
      rec: mutable.Map[String, Any]): Unit = {
    val tr = tracer.get
    val op = rec("op").asInstanceOf[Int]
    val v = CowTable.currentVersionAt(t.root)
    CowTable.evictManifestCache()
    rec("manifest_header_ms") = tr.span(-1, op, "manifest.header")(
      CowTable.manifestHeaderAt(t.root, v))._2
    CowTable.evictManifestCache()
    val (m, foldMs) = tr.span(-1, op, "manifest.fold_cold")(CowTable.manifestAt(t.root, v))
    rec("manifest_fold_cold_ms") = foldMs
    rec("manifest_entries") = m.files.size
    CowTable.evictManifestCache()
    val enc = StatOrd.encodeKey(key.toString, numeric = true)
    rec("manifest_pruned_cold_ms") = tr.span(-1, op, "manifest.pruned_cold")(
      CowTable.manifestFilesPruned(t.root, v, CkptPred(keyLoOrd = enc, keyHiOrd = enc)))._2
    rec("manifest_chain_len") = chainLen(t.root, v)
  }

  /** Delta-encoded manifests between `v` and the last full one. */
  private def chainLen(root: Path, v: Int): Int = {
    val dir = root.resolve("_manifests")
    Iterator.iterate(v)(_ - 1).takeWhile(_ >= 1)
      .map(x => Files.readString(dir.resolve(f"v$x%05d.json")))
      .takeWhile(_.contains("\"deltaRemoved\"")).size
  }

  // --------------------------------------------------------------- batches

  /** Land batch `b` as DMS would: parquet files in the landing directory. */
  private def land(b: Int): Seq[String] = {
    def listing = if (!Files.isDirectory(landDir)) Set.empty[String]
      else scala.util.Using.resource(Files.list(landDir))(_.iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSet)
    val before = listing
    data.batch(b).write.mode("append").parquet(landDir.toString)
    val files = (listing -- before).toSeq.sorted
    landed += ((b, files, files.map(f => Files.size(Paths.get(f))).sum))
    files
  }

  private def batchFrame(files: Seq[String]): DataFrame =
    spark.read.parquet(files: _*)

  /** A merge of landed batch `files` into `t`. Traced merges are followed
    * by their probes, which leave the manifest cache as the merge left it:
    * the dedup probe (the job's dedup on the landed batch into a no-op
    * sink), `afterTraced` (the caller's own probes), manifest bytes per
    * commit, the mutation diff between the versions before and after, and
    * the manifest probe. */
  private def merge(kind: String, t: CowTable, files: Seq[String],
      afterTraced: mutable.Map[String, Any] => Unit = _ => ())(
      body: => Unit): Unit = {
    val v0 = t.currentVersion
    val mbytes0 = if (traced) dirBytes(t.root.resolve("_manifests")) else 0L
    val (ok, rec) = timed(kind) { (_, _) => body }
    rec("events") = shape.events
    if (ok.isDefined && traced) ManifestCacheState.preserved {
      val v1 = t.currentVersion
      val op = rec("op").asInstanceOf[Int]
      val dd = CdcDedup.latestPerKeyStrict(batchFrame(files), Seq("id"),
        "timestamp", Seq("seq"))
      rec("dedup_ms") = tracer.get.span(-1, op, "dedup")(
        dd.write.format("noop").mode("overwrite").save())._2
      val deduped = dd.count()
      afterTraced(rec)
      rec("dedup_ratio") = deduped.toDouble / shape.events
      rec("commits") = v1 - v0
      rec("manifest_bytes") =
        (dirBytes(t.root.resolve("_manifests")) - mbytes0).toDouble / math.max(1, v1 - v0)
      val (a, b) = (t.manifest(v0).files, t.manifest(v1).files)
      val kept = b.map(_.path).toSet
      val gone = a.filterNot(f => kept(f.path))
      rec("files_rewritten") = gone.size
      rec("rows_rewritten") = gone.map(_.rows).sum
      rec("rewrite_ratio") = gone.map(_.rows).sum.toDouble / deduped
      rec("dv_rows") = b.map(_.dvRows).sum - a.map(_.dvRows).sum
      manifestProbe(t, lookupKey(cycle, 0), rec)
    }
  }

  /** SQL path of `cdc_merge`: the job's dedup, then MERGE upserts and
    * MERGE deletes (the Iceberg/Delta job). Traced runs then time planning
    * of each statement again, plan-only, against the merged table. */
  private def sqlMerge(b: Int, files: Seq[String]): Unit = {
    val set = cols.filterNot(Set("id", "last_applied_date"))
      .map(c => s"t.`$c` = s.`$c`").mkString(", ")
    val ts = Data.auditTs(b)
    val upsert =
      s"""MERGE INTO lb_sql t USING (SELECT * FROM lb_batch WHERE Op <> 'D') s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET $set, t.last_applied_date = TIMESTAMP '$ts'
         |WHEN NOT MATCHED THEN INSERT (${cols.map(c => s"`$c`").mkString(", ")})
         |VALUES (${cols.map(c => if (c == "last_applied_date") s"TIMESTAMP '$ts'" else s"s.`$c`").mkString(", ")})
         |""".stripMargin
    val delete =
      """MERGE INTO lb_sql t USING (SELECT * FROM lb_batch WHERE Op = 'D') s
        |ON t.id = s.id WHEN MATCHED THEN DELETE""".stripMargin
    val planOnly = (rec: mutable.Map[String, Any]) => rec("planning_ms") =
      Seq(upsert, delete).map { sql =>
        tracer.get.span(-1, rec("op").asInstanceOf[Int], "planning.merge")(
          spark.sessionState.executePlan(spark.sessionState.sqlParser.parsePlan(sql),
            org.apache.spark.sql.execution.CommandExecutionMode.SKIP).executedPlan)._2
      }.sum
    merge("merge.sql", table("sql"), files, planOnly) {
      CdcDedup.latestPerKeyStrict(batchFrame(files), Seq("id"), "timestamp", Seq("seq"))
        .createOrReplaceTempView("lb_batch")
      spark.sql(upsert)
      spark.sql(delete)
    }
  }

  /** SQL path of `lake_serve`: MERGE `r` of the dimension table moves
    * `Data.DimChanges` rows to new regions (a slowly changing dimension). */
  private def dimMerge(r: Int): Unit = {
    timed("merge.dim") { (_, _) =>
      data.dimChanges(r).createOrReplaceTempView("lb_dim_changes")
      spark.sql("""MERGE INTO lb_dim t USING lb_dim_changes s ON t.dim_id = s.dim_id
                  |WHEN MATCHED THEN UPDATE SET t.region = s.region""".stripMargin)
    }
  }

  /** Seeded query parameters: the same seed asks the same questions. */
  private def rnd(c: Int, j: Int): scala.util.Random =
    new scala.util.Random(o.seed * 1000003L + c * 7919L + j)
  private def lookupKey(c: Int, j: Int): Long =
    (rnd(c, j).nextDouble() * data.newBase(c + 1)).toLong

  private val replays = mutable.Map[Int, DataFrame]()
  private lazy val replayInitial = data.initial.cache()
  private def replayAt(b: Int): DataFrame = replays.getOrElseUpdate(b, {
    val events = landed.filter(_._1 <= b).map { case (bb, files, _) =>
      (bb, batchFrame(files)) }.toSeq
    Data.replay(replayInitial, events, cols).cache()
  })

  /** A point lookup; `fresh` is the first read after a merge: it hits a
    * brand-new version, so its manifest is not cached yet. */
  private def lookup(t: CowTable, k: Long, fresh: Boolean): Unit = {
    val b = cycle
    query(if (fresh) "fresh" else "lookup", t, probeKey = k)(
      _.filter(col("id") === k).select(cols.map(col): _*), () => replayAt(b))
  }

  // ---------------------------------------------------------------- cycles

  private def cdcMergeCycle(b: Int): Unit = {
    val files = land(b)
    val api = table("api")
    merge("merge.api", api, files) {
      CdcPipeline.run(spark, api, landDir.toString,
        o.work.resolve("bookmark.json").toString, auditTs = lit(Data.auditTs(b)))
    }
    val changed = data.newBase(b) - 1 - (rnd(b, 1).nextDouble() * shape.recentKeys).toLong
    lookup(api, changed, fresh = true)
    lookup(api, lookupKey(b, 2), fresh = false)
    sqlMerge(b, files)
    lookup(table("sql"), changed, fresh = true)
    lookup(table("sql"), lookupKey(b, 3), fresh = false)
    query("agg", api)(summary, () => replayAt(b))
    lookup(api, lookupKey(b, 4), fresh = false)
    lookup(table("sql"), lookupKey(b, 5), fresh = false)
    versionAfter(b) = api.currentVersion
  }

  /** The full-scan aggregate over a wide projection (a bare count would
    * skip decoding the payload). */
  private def summary(df: DataFrame): DataFrame = df.agg(count(lit(1)).as("n"),
    sum(col("qty")).as("qty"), sum(length(col("payload"))).as("payload_len"),
    sum(pmod(xxhash64(col("id"), col("payload")), lit(1000003L))).as("h"))

  private def lakeServeCycle(b: Int): Unit = {
    val files = land(b)
    val fact = table("fact")
    val before = fact.currentVersion
    merge("merge.dv", fact, files) {
      CdcPipeline.applyBatch(fact, batchFrame(files),
        auditTs = lit(Data.auditTs(b)), tieBreak = Seq("seq"))
    }
    val after = fact.currentVersion
    versionAfter(b) = after
    lookup(fact, lookupKey(b, 0), fresh = true)
    dimMerge(DimMerges * (b - 1) + 1)
    val stateNow = () => replayAt(b)
    val feedCols = cols :+ "_change_type"
    val feedSummary = (df: DataFrame) => df.agg(count(lit(1)).as("n"),
      sum(xxhash64(feedCols.map(col): _*).cast("decimal(38,0)")).as("h"))
    val r = rnd(b, 10)
    val lo = new java.sql.Timestamp(Data.FactStart.getTime +
      (r.nextDouble() * (Data.FactSpanSeconds - 3 * 86400)).toLong * 1000)
    val hi = new java.sql.Timestamp(lo.getTime + 3 * 86400 * 1000L)
    val month = f"2023-${1 + r.nextInt(Data.FactMonths)}%02d"
    // warm lookups between the other reads, so that one spell of host
    // contention does not slow all of them
    lookup(fact, lookupKey(b, 1), fresh = false)
    query("range", fact)(df => summary(df.filter(col("event_ts") >= lit(lo) &&
      col("event_ts") < lit(hi))), stateNow)
    lookup(fact, lookupKey(b, 2), fresh = false)
    query("partition", fact)(df => summary(df.filter(col("month") === month)), stateNow)
    lookup(fact, lookupKey(b, 3), fresh = false)
    query("agg", fact)(summary, stateNow)
    lookup(fact, lookupKey(b, 4), fresh = false)
    dimMerge(DimMerges * b)
    val byRegion = (f: DataFrame, d: DataFrame) => f.join(d, "dim_id")
      .groupBy("region").agg(count(lit(1)).as("n"), sum(col("qty")).as("qty"))
    readOp("join", fact, 0L)(byRegion(read(fact), read(table("dim"))),
      () => byRegion(replayAt(b), data.dimAt(DimMerges * b)))
    val past = (0 until b).map(x => x -> versionAfter(x))
    val (tb, tv) = past(r.nextInt(past.size))
    query("travel", fact, version = Some(tv))(
      df => summary(df.filter(col("month") === month)), () => replayAt(tb))
    feedQuery(fact, before, after, feedSummary, b)
  }

  /** The `feed` class: the change feed of batch `b`'s commits, through
    * `CowTable.readChangeFeed` (`from` is exclusive). Its replay: update
    * pre/post images and inserts of the deduped upserts over the state
    * before the batch, then the deletes of keys that state held. */
  private def feedQuery(fact: CowTable, from: Int, to: Int,
      q: DataFrame => DataFrame, b: Int): Unit = {
    val expected = () => {
      val pre = replayAt(b - 1)
      val dd = Data.latest(batchFrame(landed.find(_._1 == b).get._2))
        .withColumn("last_applied_date", lit(Data.auditTs(b)))
      val ups = dd.filter(col("Op") =!= "D").select(cols.map(col): _*)
      val keys = (df: DataFrame) => df.select("id")
      val tag = (df: DataFrame, t: String) =>
        df.select(cols.map(col): _*).withColumn("_change_type", lit(t))
      q(tag(pre.join(keys(ups), Seq("id"), "left_semi"), "update_preimage")
        .unionByName(tag(ups.join(keys(pre), Seq("id"), "left_semi"), "update_postimage"))
        .unionByName(tag(ups.join(keys(pre), Seq("id"), "left_anti"), "insert"))
        .unionByName(tag(pre.join(keys(dd.filter(col("Op") === "D")), Seq("id"),
          "left_semi"), "delete")))
    }
    readOp("feed", fact, lookupKey(b, 0))(
      q(fact.readChangeFeed(from, to)), expected)
  }

  // ------------------------------------------------------------ the run

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum }

  private def mergedRoots: Seq[CowTable] = tables.filterNot(_.config.tableName == "dim")

  /** Bytes added under the merged tables' roots per landed byte, and bytes
    * under the roots per byte the current versions reference, both at the
    * end of the deterministic prefix of cycles. */
  private def ratios(bytes0: Long): Map[String, Double] = {
    val now = mergedRoots.map(t => dirBytes(t.root)).sum
    val landedBytes = landed.map(_._3).sum.toDouble * mergedRoots.size
    val live = mergedRoots.map(t => t.manifest(t.currentVersion).files.map(f =>
      if (f.bytes > 0) f.bytes else Files.size(t.root.resolve(f.path))).sum).sum
    Map("write_amp" -> (now - bytes0) / landedBytes, "space_amp" -> now.toDouble / live)
  }

  /** Every merged table against the replay; the last result of each read
    * class against its replay query; one fixed time-travel version. */
  private def verify(): Unit = {
    val last = landed.map(_._1).max
    val want = Data.fingerprint(replayAt(last), cols)
    mergedRoots.foreach { t =>
      val got = Data.fingerprint(read(t).select(cols.map(col): _*), cols)
      if (got != want) mismatches += s"table ${t.config.tableName}: $got != replay $want"
    }
    if (o.workload == "lake_serve") {
      val dimCols = data.dim.columns.toSeq
      val got = Data.fingerprint(read(table("dim")).select(dimCols.map(col): _*), dimCols)
      val want = Data.fingerprint(data.dimAt(DimMerges * last), dimCols)
      if (got != want) mismatches += s"table dim: $got != replay $want"
    }
    lastRead.toSeq.sortBy(_._1).foreach { case (cls, (rows, exp)) =>
      val got = rows.map(_.toString).sorted.toSeq
      val want = exp().collect().map(_.toString).sorted.toSeq
      if (got != want) mismatches += s"read class $cls: ${got.take(3)} != replay ${want.take(3)}"
    }
    val t = mergedRoots.head
    val got = Data.fingerprint(read(t, Some(versionAfter(1))).select(cols.map(col): _*), cols)
    val want1 = Data.fingerprint(replayAt(1), cols)
    if (got != want1) mismatches += s"travel to v${versionAfter(1)}: $got != replay $want1"
  }

  def run(): Map[String, Any] = {
    val setupS = setup()
    val bytes0 = mergedRoots.map(t => dirBytes(t.root)).sum
    val prefixEnd = 1 + Workload.minCycles(o.workload, o.scale)
    var prefix = Map.empty[String, Double]
    var peakHeapMb = 0.0
    var timedStart = 0L
    var stop = false
    val w0 = System.nanoTime
    var warmupS = 0.0
    while (!stop) {
      cycle += 1
      if (cycle == 2) {
        timedStart = System.nanoTime
        warmupS = (timedStart - w0) / 1e9
      }
      if (o.workload == "cdc_merge") cdcMergeCycle(cycle) else lakeServeCycle(cycle)
      if (cycle == prefixEnd) prefix = ratios(bytes0)
      // every cycle starts from a collected heap, so no operation pays for
      // the garbage of earlier cycles
      peakHeapMb = math.max(peakHeapMb, LiveHeap.collectMb())
      val elapsed = if (cycle >= 2) (System.nanoTime - timedStart) / 1e9 else 0.0
      stop = cycle >= prefixEnd && elapsed >= o.seconds
    }
    val measuredS = (System.nanoTime - timedStart) / 1e9
    // the workload's peak, before the correctness check's replays
    val peakRssMb = LakeBench.peakRssMb()
    val v0 = System.nanoTime
    verify()
    val verifyS = (System.nanoTime - v0) / 1e9
    val commitProbe = tracer.map { tr =>
      mergedRoots.map(t => tr.span(-1, nextOp, "commit.probe")(
        t.addColumn("lakebench_probe", org.apache.spark.sql.types.StringType))._2)
    }
    tracer.foreach(_.close())
    Map(
      "setup_reps_s" -> setupS, "warmup_s" -> warmupS, "measured_s" -> measuredS,
      "verify_s" -> verifyS, "cycles" -> cycle, "peak_heap_mb" -> peakHeapMb,
      "peak_rss_mb" -> peakRssMb,
      "prefix_cycles" -> prefixEnd, "prefix" -> prefix,
      "correct" -> mismatches.isEmpty, "mismatches" -> mismatches.toSeq,
      "ops" -> ops.map(_.toMap).toSeq,
      "commit_probe_ms" -> commitProbe.getOrElse(Nil),
      "spans" -> tracer.map(_.spans.toSeq.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start" -> s.start, "end" -> s.end))).getOrElse(Nil))
  }
}

/** Scan nodes of an executed plan, including those inside adaptive query
  * stages. */
object PlanScans extends AdaptiveSparkPlanHelper {
  def of(df: DataFrame): Seq[BatchScanExec] =
    collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
}
