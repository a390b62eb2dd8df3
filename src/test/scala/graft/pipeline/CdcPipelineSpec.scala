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

  // ---- both layouts: one match scan, two commits ----

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
      // an upsert with rows commits; a delete commits iff it marks a row,
      // on both layouts
      val u = if (upIds.nonEmpty) 1 else 0
      val d = if ((delIds & (liveBefore ++ upIds)).nonEmpty) 1 else 0
      assert(rd.upsertVersion == dvB + u && rc.upsertVersion == cowB + u, ctx)
      assert(rd.deleteVersion == rd.upsertVersion + d &&
        rc.deleteVersion == rc.upsertVersion + d, ctx)
      assert(modelRows(dv.read()) == state.sorted, ctx)
      assert(modelRows(cow.read()) == state.sorted, ctx)
      assert(fullRows(dv.read()) == fullRows(cow.read()), ctx)
      assert(feedRows(dv, dvB, rd.upsertVersion) ==
        feedRows(cow, cowB, rc.upsertVersion), ctx)
      assert(feedRows(dv, rd.upsertVersion, rd.deleteVersion) ==
        feedRows(cow, rc.upsertVersion, rc.deleteVersion), ctx)
      assert(historyOf(dv, dvB + 1 to rd.deleteVersion) ==
        historyOf(cow, cowB + 1 to rc.deleteVersion), ctx)
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

  // ---- NULL keys: one semantics on both layouts ----

  /** (Op, timestamp, id, sub, name, seq) — `id` and `sub` may be NULL. */
  private type NkEv = (String, String, Option[Long], Option[String], String, Long)
  private type NkRow = (Option[Long], Option[String], String, Long)
  private val nkCols = Seq("id", "sub", "name", "seq")

  private def nkBatch(evs: Seq[NkEv]): DataFrame =
    evs.toDF("Op" +: "timestamp" +: nkCols: _*)

  private def nkRows(df: DataFrame): Seq[NkRow] =
    df.select(nkCols.map(col): _*).as[NkRow].collect().toSeq.sorted

  /** Plain-Spark replay of one strict batch with NULL-safe key semantics:
    * the latest event per key (NULLs group together; ties on `seq`), a
    * surviving D removes the key, else the surviving row replaces it. */
  private def nkModel(state: Seq[NkRow], evs: Seq[NkEv], pk: Seq[String])
      : Seq[NkRow] = {
    val w = Window.partitionBy(pk.map(col): _*)
    val win = nkBatch(evs).withColumn("timestamp", to_timestamp(col("timestamp")))
      .withColumn("__t", max("timestamp").over(w))
      .filter(col("timestamp") === col("__t"))
      .withColumn("__s", max("seq").over(w)).filter(col("seq") === col("__s"))
    val old = state.toDF(nkCols: _*)
    old.join(win, pk.map(c => old(c) <=> win(c)).reduce(_ && _), "left_anti")
      .unionByName(win.filter(col("Op") =!= "D").select(nkCols.map(col): _*))
      .as[NkRow].collect().toSeq.sorted
  }

  private def nkDifferential(pk: Seq[String], init: Seq[NkRow],
      batches: Seq[(String, Seq[NkEv])]): Unit = {
    val dir = tmpDir("cdcnull")
    def table(name: String, dv: Boolean) = {
      val t = CowTable(spark, s"$dir/$name", TableConfig("t", pk,
        changeDataFeed = true, deletionVectors = dv))
      t.create(init.toDF(nkCols: _*)
        .withColumn("timestamp", lit(null).cast("timestamp"))
        .withColumn("last_applied_date", lit(null).cast("timestamp"))
        .repartition(2))
      t
    }
    val (dv, cow) = (table("dv", dv = true), table("cow", dv = false))
    def key(r: NkRow): Seq[Option[Any]] =
      pk.map(c => if (c == "id") r._1 else r._2)
    def evKey(e: NkEv): Seq[Option[Any]] =
      pk.map(c => if (c == "id") e._3 else e._4)
    def feed(t: CowTable, from: Int, to: Int) =
      if (to == from) Nil
      else t.readChangeFeed(from, to)
        .select((nkCols :+ "_change_type").map(col): _*)
        .as[(Option[Long], Option[String], String, Long, String)]
        .collect().toSeq.sorted
    var state = init.sorted
    for ((name, evs) <- batches) {
      val ctx = s"pk=${pk.mkString(",")}: $name"
      val before = state
      state = nkModel(before, evs, pk)
      // strict dedup: a key's one surviving event decides both sides
      val deleted = before.map(key).filterNot(state.map(key).toSet)
      val upserted = state.filterNot(before.contains)
      val (dvB, cowB) = (dv.currentVersion, cow.currentVersion)
      val rd = CdcPipeline.applyBatch(dv, nkBatch(evs), auditTs = audit,
        tieBreak = Seq("seq"))
      val rc = CdcPipeline.applyBatch(cow, nkBatch(evs), auditTs = audit,
        tieBreak = Seq("seq"))
      assert(nkRows(dv.read()) == state, ctx)
      assert(nkRows(cow.read()) == state, ctx)
      val (u, d) = (if (upserted.nonEmpty) 1 else 0, if (deleted.nonEmpty) 1 else 0)
      assert(rd.upsertVersion == dvB + u && rc.upsertVersion == cowB + u, ctx)
      assert(rd.deleteVersion == rd.upsertVersion + d &&
        rc.deleteVersion == rc.upsertVersion + d, ctx)
      assert(feed(dv, dvB, rd.deleteVersion) == feed(cow, cowB, rc.deleteVersion),
        ctx)
      // an update of an existing NULL-bearing key is a pre/post pair on
      // both layouts (the feeds are equal), never a bare insert
      val upFeed = feed(cow, cowB, rc.upsertVersion)
      evs.filter(e => e._1 != "D" && evKey(e).contains(None) &&
          before.map(key).contains(evKey(e))).foreach { e =>
        assert(upFeed.filter(r => r._1 == e._3 && r._2 == e._4).map(_._5)
          .toSet == Set("update_preimage", "update_postimage"), ctx)
      }
    }
    assert(dv.validate().filter(!col("ok")).isEmpty)
    assert(cow.validate().filter(!col("ok")).isEmpty)
  }

  private def nk(op: String, minute: Int, id: Option[Long], sub: Option[String],
      name: String): NkEv =
    (op, f"2024-01-02 10:$minute%02d:00", id, sub, name, minute.toLong)

  test("NULL keys, DV ≡ COW ≡ plain Spark: upsert and delete an existing " +
    "NULL key") {
    val init: Seq[NkRow] =
      (1L to 6L).map(i => (Option(i), Option("s"), s"n$i", 0L)) :+
        ((None, Some("s"), "nNull", 0L))
    nkDifferential(Seq("id"), init, Seq(
      "update NULL key" -> Seq(nk("U", 1, None, Some("s"), "uNull"),
        nk("U", 2, Some(3L), Some("s"), "u3"), nk("I", 3, Some(7L), Some("s"), "i7")),
      "delete NULL key" -> Seq(nk("D", 1, None, Some("s"), "dNull"),
        nk("D", 2, Some(4L), Some("s"), "d4")),
      "re-insert NULL key" -> Seq(nk("I", 1, None, None, "iNull"),
        nk("D", 2, Some(99L), None, "absent"))))
  }

  test("NULL keys, DV ≡ COW ≡ plain Spark: composite key with a NULL " +
    "second column") {
    val init = Seq[NkRow]((Some(1L), Some("a"), "a1", 0L),
      (Some(1L), None, "n1", 0L), (None, Some("a"), "na", 0L),
      (Some(2L), None, "n2", 0L), (Some(3L), Some("b"), "b3", 0L))
    nkDifferential(Seq("id", "sub"), init, Seq(
      "update NULL second column" -> Seq(nk("U", 1, Some(1L), None, "u1"),
        nk("U", 2, None, Some("a"), "uNa"), nk("I", 3, Some(4L), None, "i4")),
      "delete NULL second column" -> Seq(nk("D", 1, Some(1L), None, "d1"),
        nk("D", 2, Some(9L), None, "absent"), nk("U", 3, Some(2L), None, "u2")),
      "delete NULL first column" -> Seq(nk("D", 1, None, Some("a"), "dNa"))))
  }

  test("job-count guard: one COW batch with upserts and deletes " +
    "(precombine table)") {
    val t = CowTable(spark, tmpDir("cdccowjobs") + "/t",
      TableConfig("t", Seq("id"), precombineKey = Some("seq"),
        maxRecordsPerFile = 10L))
    t.create((1L to 40L).map(i => (i, s"n$i", 0L)).toDF("id", "name", "seq")
      .coalesce(1))
    def b(n: Int) = batch(
      ("U", "2024-01-02 10:00:00", 3L + n, "u", 1L),
      ("I", "2024-01-02 10:00:00", 100L + n, "i", 2L),
      ("D", "2024-01-02 10:00:00", 20L + n, "d", 3L))
    // the first batch also evolves in `timestamp` and `last_applied_date`
    CdcPipeline.applyBatch(t, b(0), auditTs = audit)
    val (res, jobs) = SparkJobs.counted(spark) {
      CdcPipeline.applyBatch(t, b(1), auditTs = audit)
    }
    assert(res.deleteVersion == res.upsertVersion + 1)
    assert(state(t)(4L) == "u" && state(t)(101L) == "i" && !state(t).contains(21L))
    // one key prune, one match scan and one mark count serve both commits:
    // 13 jobs, as many as the former per-commit prune-and-join rewrites ran
    assert(jobs <= 15, s"$jobs Spark jobs")
  }
}
