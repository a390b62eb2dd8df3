package graft.pipeline

import scala.util.Random

import graft.{SparkJobs, SparkSpec}
import graft.storage.{ConcurrentWriteException, CowTable, TableConfig}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class CdcPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def cfg = TableConfig("users", Seq("id"), precombineKey = Some("seq"))

  private def newTable(): CowTable = {
    val t = CowTable(spark, tmpDir("cdc") + "/users", cfg)
    t.create(Seq((1L, "alice", 0L), (2L, "bob", 0L), (3L, "carol", 0L))
      .toDF("id", "name", "seq"))
    t
  }

  /** DMS-shaped batch: Op, timestamp, full row image. */
  private def batch(rows: (String, String, Long, String, Long)*): DataFrame =
    rows.toSeq.toDF("Op", "timestamp", "id", "name", "seq")

  private def state(t: CowTable): Map[Long, String] =
    t.read().select("id", "name").as[(Long, String)].collect().toMap

  test("CDC merge over a hive-partitioned table, including partition moves") {
    val pcfg = TableConfig("users", Seq("id"),
      partitionKey = Some("seg"), precombineKey = Some("seq"))
    val t = CowTable(spark, tmpDir("cdcp") + "/users", pcfg)
    t.create(Seq((1L, "A", "alice", 0L), (2L, "B", "bob", 0L))
      .toDF("id", "seg", "name", "seq"))
    val b = Seq(
      ("U", "2024-01-01 10:00:00", 1L, "B", "alice2", 1L), // A -> B move
      ("I", "2024-01-01 10:00:00", 3L, "A", "carol", 1L),
      ("D", "2024-01-01 11:00:00", 2L, "B", "bob", 2L))
      .toDF("Op", "timestamp", "id", "seg", "name", "seq")
    CdcPipeline.applyBatch(t, b, auditTs = lit("2024-06-01").cast("timestamp"))
    val out = t.read().select("id", "seg", "name")
      .as[(Long, String, String)].collect().toSet
    assert(out == Set((1L, "B", "alice2"), (3L, "A", "carol")))
    // the moved row lives under its NEW hive partition dir, exactly once
    val files = t.manifest(t.currentVersion).files.map(_.path)
    assert(files.exists(_.contains("seg=B")))
    assert(t.read().filter(col("id") === 1L).count() == 1)
  }

  test("upsert + delete routing, upserts applied before deletes") {
    val t = newTable()
    val b = batch(
      ("U", "2024-01-01 10:00:00", 1L, "alice2", 1L),
      ("I", "2024-01-01 10:00:00", 4L, "dave", 2L),
      ("D", "2024-01-01 10:00:00", 2L, "bob", 3L))
    val res = CdcPipeline.applyBatch(t, b,
      auditTs = lit("2024-06-01 00:00:00").cast("timestamp"))
    assert(res.opCounts == Map("U" -> 1L, "I" -> 1L, "D" -> 1L))
    assert(state(t) == Map(1L -> "alice2", 3L -> "carol", 4L -> "dave"))
    // audit column present on merged rows, null on untouched rows
    val audit = t.read().select("id", "last_applied_date")
      .as[(Long, Option[java.sql.Timestamp])].collect().toMap
    assert(audit(1L).isDefined && audit(3L).isEmpty)
  }

  test("within-batch dedup: only the max-timestamp row per key is applied") {
    val t = newTable()
    CdcPipeline.applyBatch(t, batch(
      ("U", "2024-01-01 10:00:00", 1L, "mid", 1L),
      ("U", "2024-01-02 10:00:00", 1L, "final", 2L),
      ("I", "2024-01-01 09:00:00", 1L, "early", 3L)))
    assert(state(t)(1L) == "final")
  }

  test("tie on timestamp breaks deterministically on precombine (seq)") {
    val t = newTable()
    CdcPipeline.applyBatch(t, batch(
      ("U", "2024-01-01 10:00:00", 1L, "low-seq", 1L),
      ("U", "2024-01-01 10:00:00", 1L, "high-seq", 9L)))
    assert(state(t)(1L) == "high-seq")
  }

  test("key whose final op is D is removed even when an I/U precedes it") {
    val t = newTable()
    CdcPipeline.applyBatch(t, batch(
      ("I", "2024-01-01 10:00:00", 5L, "eve", 1L),
      ("D", "2024-01-02 10:00:00", 5L, "eve", 2L)))
    assert(!state(t).contains(5L))
  }

  test("replaying the same batch is idempotent (crash-recovery safety)") {
    val t = newTable()
    val b = batch(
      ("U", "2024-01-01 10:00:00", 1L, "alice2", 1L),
      ("D", "2024-01-01 10:00:00", 3L, "carol", 2L))
    CdcPipeline.applyBatch(t, b,
      auditTs = lit("2024-06-01 00:00:00").cast("timestamp"))
    val s1 = state(t)
    CdcPipeline.applyBatch(t, b,
      auditTs = lit("2024-06-01 00:00:00").cast("timestamp"))
    assert(state(t) == s1)
  }

  test("time-ordered prefix split converges to the same state as one batch") {
    val all = Seq(
      ("I", "2024-01-01 01:00:00", 10L, "a", 1L),
      ("U", "2024-01-01 02:00:00", 10L, "b", 2L),
      ("U", "2024-01-01 03:00:00", 11L, "c", 3L),
      ("D", "2024-01-01 04:00:00", 10L, "b", 4L),
      ("U", "2024-01-01 05:00:00", 11L, "d", 5L))
    val oneShot = newTable()
    CdcPipeline.applyBatch(oneShot, batch(all: _*))
    for (split <- 1 until all.size) {
      val t = newTable()
      CdcPipeline.applyBatch(t, batch(all.take(split): _*))
      CdcPipeline.applyBatch(t, batch(all.drop(split): _*))
      assert(state(t) == state(oneShot), s"split at $split diverged")
    }
  }

  test("bookmarked run consumes each file once; empty batch exits early") {
    val t = newTable()
    val cdcDir = tmpDir("cdcfiles")
    val bmPath = cdcDir + "/_bookmark.json"
    batch(("U", "2024-01-01 10:00:00", 1L, "v1", 1L))
      .coalesce(1).write.mode("append").parquet(cdcDir)
    val r1 = CdcPipeline.run(spark, t, cdcDir, bmPath)
    assert(r1.isDefined && state(t)(1L) == "v1")
    // no new files → "No Data changed." early exit, no commit
    val vBefore = t.currentVersion
    assert(CdcPipeline.run(spark, t, cdcDir, bmPath).isEmpty)
    assert(t.currentVersion == vBefore)
    // a second file arrives → only it is consumed
    batch(("U", "2024-01-02 10:00:00", 1L, "v2", 2L))
      .coalesce(1).write.mode("append").parquet(cdcDir)
    assert(CdcPipeline.run(spark, t, cdcDir, bmPath).isDefined)
    assert(state(t)(1L) == "v2")
  }

  // ---- deletion-vector tables: one match scan, two commits ----

  /** (Op, timestamp, id, month, name, seq) */
  private type Ev = (String, String, Long, String, String, Long)
  private val modelCols = Seq("id", "month", "name", "seq")
  private val audit = lit("2024-06-01 00:00:00").cast("timestamp")

  private def month(id: Long) = f"2024-${1 + id % 3}%02d"

  /** A CDC target that pre-declares the pipeline's `timestamp` and
    * `last_applied_date` columns, so its batches take the MOR path. */
  private def cdcTable(dir: String, dv: Boolean, partitioned: Boolean,
      ids: Seq[Long]): CowTable = {
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      partitionKey = Some("month").filter(_ => partitioned),
      changeDataFeed = true, deletionVectors = dv))
    t.create(ids.map(i => (i, month(i), s"n$i", 0L)).toDF(modelCols: _*)
      .withColumn("timestamp", lit(null).cast("timestamp"))
      .withColumn("last_applied_date", lit(null).cast("timestamp"))
      .coalesce(1)) // one file per partition
    t
  }

  private def evBatch(evs: Seq[Ev]): DataFrame =
    evs.toDF("Op", "timestamp", "id", "month", "name", "seq")

  /** Plain-Spark replay of one batch: latest event per key (ties broken on
    * `seq` when `strict`, else every tied row survives), a surviving D
    * removes the key, else the surviving row is the key's new state. */
  private def modelApply(state: Seq[(Long, String, String, Long)],
      evs: Seq[Ev], strict: Boolean) = {
    val w = Window.partitionBy("id")
    val latest = evBatch(evs).withColumn("timestamp", to_timestamp(col("timestamp")))
      .withColumn("__t", max("timestamp").over(w))
      .filter(col("timestamp") === col("__t"))
    val win = if (!strict) latest else latest
      .withColumn("__s", max("seq").over(w)).filter(col("seq") === col("__s"))
    val dead = win.filter(col("Op") === "D").select("id")
    val up = win.filter(col("Op") =!= "D").join(dead, Seq("id"), "left_anti")
      .select(modelCols.map(col): _*)
    val next = state.toDF(modelCols: _*)
      .join(win.select("id").distinct(), Seq("id"), "left_anti")
      .unionByName(up).as[(Long, String, String, Long)].collect().toSeq
    val upIds = win.filter(col("Op") =!= "D").select("id").as[Long].collect().toSet
    val delIds = dead.as[Long].collect().toSet
    (next, upIds, delIds)
  }

  private def modelRows(df: DataFrame) =
    df.select(modelCols.map(col): _*).as[(Long, String, String, Long)]
      .collect().toSeq.sorted

  private def fullRows(df: DataFrame) =
    df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).sorted.toSeq

  private def feedRows(t: CowTable, from: Int, to: Int) =
    if (to == from) Nil
    else t.readChangeFeed(from, to)
      .select((modelCols :+ "_change_type").map(col): _*)
      .as[(Long, String, String, Long, String)].collect().toSeq.sorted

  /** (version - parent, row_count, data_change) of each listed version. */
  private def historyOf(t: CowTable, vs: Seq[Int]) = {
    val h = t.history().collect().map((r: Row) =>
      r.getInt(0) -> (r.getInt(0) - r.getInt(1), r.getLong(2), r.getBoolean(4)))
      .toMap
    vs.map(h)
  }

  /** Seeded batch shapes over the live keys: each names the case it covers. */
  private def shapes(r: Random, live: Seq[Long], strict: Boolean)
      : Seq[(String, Seq[Ev])] = {
    var seq = 0L
    def ev(op: String, minute: Int, id: Long, name: String): Ev = {
      seq += 1
      (op, f"2024-01-02 10:$minute%02d:00", id, month(id), name, seq)
    }
    val ks = r.shuffle(live).toIndexedSeq
    val fresh = 1000L + r.nextInt(100) * 10
    val absent = 5000L + r.nextInt(100)
    val mixed = Seq(
      ev("U", 1, ks(0), "u0"), ev("U", 2, ks(1), "u1"), ev("I", 3, fresh, "i0"),
      ev("D", 4, ks(2), "d2"), ev("D", 5, absent, "gone"),
      ev("U", 6, ks(3), "u3"), ev("D", 7, ks(3), "d3"), // final D
      ev("I", 8, fresh + 1, "i1"), ev("U", 9, fresh + 1, "i1b"))
    val inserts = Seq(ev("I", 1, fresh + 2, "i2"), ev("I", 2, fresh + 3, "i3"))
    val deletes = Seq(ev("D", 1, ks(4), "d4"), ev("D", 2, fresh, "d5"))
    val absentOnly = Seq(ev("D", 1, absent + 1, "x"), ev("D", 2, absent + 2, "y"))
    // ks(2)'s file carries a vector by now: re-marks fold old positions
    val vk = ks.drop(11).filter(k => month(k) == month(ks(2)))
    val reDelete = Seq(ev("D", 1, vk(0), "d6"), ev("D", 2, vk(1), "d7"),
      ev("U", 3, ks(7), "u8"))
    val ties =
      if (strict) Seq( // seq breaks each tie: D wins on ks(8), U on ks(9)
        ev("U", 1, ks(8), "t8"), ev("D", 1, ks(8), "t8d"),
        ev("D", 2, ks(9), "t9d"), ev("U", 2, ks(9), "t9"),
        ev("U", 3, ks(10), "u10"))
      else Seq( // keep-ties: a key both upserted and deleted in one batch
        ev("U", 1, ks(8), "t8"), ev("D", 1, ks(8), "t8d"),
        ev("I", 2, fresh + 4, "t9"), ev("D", 2, fresh + 4, "t9d"),
        ev("U", 3, ks(10), "u10"))
    Seq("mixed" -> mixed, "insert-only" -> inserts, "delete-only" -> deletes,
      "absent-key deletes" -> absentOnly, "deletes on vectored files" -> reDelete,
      "ties" -> ties)
  }

  private def differential(seed: Long, strict: Boolean, partitioned: Boolean)
      : Unit = {
    val dir = tmpDir("cdcdv")
    val ids = (1L to 40L)
    val dv = cdcTable(dir + "/dv", dv = true, partitioned, ids)
    val cow = cdcTable(dir + "/cow", dv = false, partitioned, ids)
    val tieBreak = if (strict) Seq("seq") else Nil
    var state: Seq[(Long, String, String, Long)] =
      ids.map(i => (i, month(i), s"n$i", 0L))
    var sawReDelete = false
    for ((name, evs) <- shapes(new Random(seed), ids.filter(_ > 2), strict)) {
      val ctx = s"seed $seed strict=$strict partitioned=$partitioned: $name"
      val liveBefore = state.map(_._1).toSet
      val (next, upIds, delIds) = modelApply(state, evs, strict)
      state = next
      val (dvB, cowB) = (dv.currentVersion, cow.currentVersion)
      val vectored = dv.manifest(dvB).files.filter(_.dvPath.isDefined)
        .map(e => e.path -> e.dvRows).toMap
      val rd = CdcPipeline.applyBatch(dv, evBatch(evs), auditTs = audit,
        tieBreak = tieBreak)
      val rc = CdcPipeline.applyBatch(cow, evBatch(evs), auditTs = audit,
        tieBreak = tieBreak)
      assert(rd.opCounts == rc.opCounts, ctx)
      // a side with rows commits; a DV delete commits only when it marks a
      // row, a COW delete whenever it has keys
      val u = if (upIds.nonEmpty) 1 else 0
      val dMatched = (delIds & (liveBefore ++ upIds)).nonEmpty
      assert(rd.upsertVersion == dvB + u && rc.upsertVersion == cowB + u, ctx)
      assert(rd.deleteVersion == rd.upsertVersion + (if (dMatched) 1 else 0), ctx)
      assert(rc.deleteVersion == rc.upsertVersion + (if (delIds.nonEmpty) 1 else 0),
        ctx)
      assert(modelRows(dv.read()) == state.sorted, ctx)
      assert(modelRows(cow.read()) == state.sorted, ctx)
      assert(fullRows(dv.read()) == fullRows(cow.read()), ctx)
      assert(feedRows(dv, dvB, rd.upsertVersion) ==
        feedRows(cow, cowB, rc.upsertVersion), ctx)
      assert(feedRows(dv, rd.upsertVersion, rd.deleteVersion) ==
        feedRows(cow, rc.upsertVersion, rc.deleteVersion), ctx)
      assert(historyOf(dv, dvB + 1 to rd.deleteVersion) ==
        historyOf(cow, (cowB + 1 to rc.upsertVersion) ++
          Seq(rc.deleteVersion).filter(_ => dMatched)), ctx)
      // no data file rewritten; a file vectored before the batch re-marked
      val after = dv.manifest(rd.deleteVersion).files
      assert(dv.manifest(dvB).files.map(_.path).toSet
        .subsetOf(after.map(_.path).toSet), ctx)
      if (name == "deletes on vectored files")
        sawReDelete = after.exists(e => vectored.get(e.path).exists(_ < e.dvRows))
    }
    assert(sawReDelete, "no delete landed on an already-vectored file")
    assert(dv.validate().filter(!col("ok")).isEmpty)
  }

  test("DV applyBatch ≡ COW twin ≡ plain Spark: strict dedup, month-partitioned") {
    Seq(11L, 12L).foreach(differential(_, strict = true, partitioned = true))
  }

  test("DV applyBatch ≡ COW twin ≡ plain Spark: keep-ties dedup, flat") {
    Seq(21L, 22L).foreach(differential(_, strict = false, partitioned = false))
  }

  test("a commit between a DV batch's upsert and delete fails the delete " +
    "loudly; the table holds the upsert, and the replay converges") {
    val dir = tmpDir("cdcdvrace") + "/t"
    val ids = 1L to 20L
    val t = cdcTable(dir, dv = true, partitioned = false, ids)
    val other = CowTable(spark, dir, t.config)
    val evs = Seq[Ev](("U", "2024-01-02 10:00:00", 3L, month(3L), "u3", 1L),
      ("I", "2024-01-02 10:00:00", 100L, month(100L), "i", 2L),
      ("D", "2024-01-02 10:00:00", 5L, month(5L), "d5", 3L))
    val v0 = t.currentVersion
    // the clock is read once per commit: the second read is the delete's,
    // just before its CAS — land a concurrent (row-preserving) commit there
    var reads = 0
    t.withClock { () =>
      reads += 1
      if (reads == 2) other.purgeDeletionVectors()
      System.currentTimeMillis()
    }
    intercept[ConcurrentWriteException] {
      CdcPipeline.applyBatch(t, evBatch(evs), auditTs = audit,
        tieBreak = Seq("seq"))
    }
    t.withClock(() => System.currentTimeMillis())
    assert(t.currentVersion == v0 + 2) // the upsert, then the purge
    assert(fullRows(t.read()) == fullRows(t.readVersion(v0 + 1)))
    assert(t.read().filter(col("id") === 5L).count() == 1) // not deleted yet
    assert(t.validate().filter(!col("ok")).isEmpty)
    CdcPipeline.applyBatch(t, evBatch(evs), auditTs = audit,
      tieBreak = Seq("seq"))
    assert(modelRows(t.read()) ==
      modelApply(ids.map(i => (i, month(i), s"n$i", 0L)), evs, strict = true)
        ._1.sorted)
    assert(t.validate().filter(!col("ok")).isEmpty)
  }

  test("job-count guard: one DV batch with upserts and deletes") {
    val t = cdcTable(tmpDir("cdcdvjobs") + "/t", dv = true,
      partitioned = true, 1L to 40L)
    def b(n: Int) = evBatch(Seq(
      ("U", "2024-01-02 10:00:00", 3L + n, month(3L + n), "u", 1L),
      ("I", "2024-01-02 10:00:00", 100L + n, month(100L + n), "i", 2L),
      ("D", "2024-01-02 10:00:00", 20L + n, month(20L + n), "d", 3L)))
    CdcPipeline.applyBatch(t, b(0), auditTs = audit, tieBreak = Seq("seq"))
    val (res, jobs) = SparkJobs.counted(spark) {
      CdcPipeline.applyBatch(t, b(1), auditTs = audit, tieBreak = Seq("seq"))
    }
    assert(res.deleteVersion == res.upsertVersion + 1)
    // one key prune, one position scan and one mark count serve both commits
    assert(jobs <= 20, s"$jobs Spark jobs")
  }
}
