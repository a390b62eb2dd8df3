package graft.storage

import graft.{SparkJobs, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def cfg = TableConfig("t", Seq("id"),
    changeDataFeed = true, deletionVectors = true)

  private def rows(r: Range): DataFrame =
    r.map(i => (i.toLong, s"n$i", i * 1.5)).toDF("id", "name", "v")

  private def fresh(): CowTable = {
    val dir = tmpDir("dv")
    CowTable(spark, dir + "/t", cfg)
  }

  test("DV delete: no data file rewritten, read subtracts, count exact") {
    val t = fresh()
    t.create(rows(1 to 100).repartition(4))
    val before = t.manifest(1).files.map(_.path).toSet
    t.delete(Seq(3L, 50L, 97L).toDF("id"))
    val m = t.manifest(2)
    // same data files — only dv sidecars attached
    assert(m.files.map(_.path).toSet == before)
    assert(m.files.exists(_.dvPath.isDefined))
    assert(m.files.map(_.dvRows).sum == 3)
    assert(m.rowCount == 97)
    val ids = t.read().select("id").as[Long].collect().toSet
    assert(ids.size == 97 && !ids(3L) && !ids(50L) && !ids(97L))
  }

  test("re-delete folds old positions into the new sidecar") {
    val t = fresh()
    t.create(rows(1 to 50).coalesce(1))
    t.delete(Seq(10L).toDF("id"))
    t.delete(Seq(20L, 10L).toDF("id")) // 10 already gone: not re-marked
    val m = t.manifest(t.currentVersion)
    assert(m.files.map(_.dvRows).sum == 2)
    assert(m.rowCount == 48)
    assert(t.read().count() == 48)
    // exactly one live sidecar referenced by the current version
    assert(m.files.flatMap(_.dvPath).distinct.size == 1)
  }

  test("CDF tombstones carry the preimage rows of a DV delete") {
    val t = fresh()
    t.create(rows(1 to 20).coalesce(1))
    t.delete(Seq(5L, 7L).toDF("id"))
    val feed = t.readChangeFeed(1, 2)
      .filter(col("_change_type") === "delete")
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(feed == Set((5L, "n5"), (7L, "n7")))
  }

  test("MOR upsert: no rewrite — positions marked, batch appended") {
    val t = fresh()
    t.create(rows(1 to 30).coalesce(1))
    val basePaths = t.manifest(1).files.map(_.path).toSet
    t.delete(Seq(2L).toDF("id"))
    t.upsert(Seq((3L, "updated", 0.0), (31L, "new", 1.0))
      .toDF("id", "name", "v"))
    val m = t.manifest(t.currentVersion)
    // the original file survives untouched, with 2 marked positions
    // (the delete + the update's preimage); the batch landed as a fresh file
    assert(basePaths.subsetOf(m.files.map(_.path).toSet))
    assert(m.files.filter(e => basePaths(e.path)).map(_.dvRows).sum == 2)
    assert(m.files.exists(e => !basePaths(e.path)))
    assert(m.rowCount == 30) // 30 - deleted 2 + inserted 31
    val got = t.read().as[(Long, String, Double)].collect()
      .map { case (i, n, _) => i -> n }.toMap
    assert(!got.contains(2L) && got(3L) == "updated" &&
      got(31L) == "new" && got.size == 30)
  }

  test("MOR upsert CDF: insert + update pre/post images materialized") {
    val t = fresh()
    t.create(rows(1 to 10).coalesce(1))
    t.upsert(Seq((5L, "upd", 9.9), (11L, "ins", 1.1)).toDF("id", "name", "v"))
    val feed = t.readChangeFeed(1, 2)
      .select("id", "name", "_change_type").as[(Long, String, String)]
      .collect().toSet
    assert(feed == Set(
      (11L, "ins", "insert"),
      (5L, "upd", "update_postimage"),
      (5L, "n5", "update_preimage")))
  }

  test("MOR upsert ≡ COW upsert (same final content)") {
    val dirC = tmpDir("mor")
    val cow = CowTable(spark, dirC + "/c",
      TableConfig("c", Seq("id"), changeDataFeed = true))
    val mor = CowTable(spark, dirC + "/m", cfg)
    val base = rows(1 to 40).repartition(2)
    cow.create(base); mor.create(base)
    val batch = Seq((7L, "x", 0.1), (8L, "y", 0.2), (41L, "z", 0.3))
      .toDF("id", "name", "v")
    cow.upsert(batch); mor.upsert(batch)
    mor.delete(Seq(9L).toDF("id")); cow.delete(Seq(9L).toDF("id"))
    assert(mor.read().as[(Long, String, Double)].collect().toSet ==
      cow.read().as[(Long, String, Double)].collect().toSet)
    // schema-evolving batches fall back to the COW path, same results
    val wide = Seq((1L, "w", 1.0, "extra")).toDF("id", "name", "v", "note")
    cow.upsert(wide); mor.upsert(wide)
    assert(mor.read().columns.toSet == cow.read().columns.toSet)
    assert(mor.read().select("id", "name", "note").where(col("id") === 1)
      .as[(Long, String, String)].head() == (1L, "w", "extra"))
  }

  test("purgeDeletionVectors: rewrite-only commit, content identical") {
    val t = fresh()
    t.create(rows(1 to 40).repartition(2))
    t.delete(Seq(1L, 2L, 39L).toDF("id"))
    val before = t.read().as[(Long, String, Double)].collect().toSet
    val v = t.purgeDeletionVectors()
    val m = t.manifest(v)
    assert(!m.dataChange)
    assert(m.files.forall(_.dvPath.isEmpty))
    assert(t.read().as[(Long, String, Double)].collect().toSet == before)
    // CDF consumers receive nothing from the purge
    assert(t.readChangeFeed(v - 1, v).isEmpty)
    // idempotent
    assert(t.purgeDeletionVectors() == v)
  }

  test("purge bin-packs vectored files: ~1 output per bin, not per file") {
    val t = fresh()
    t.create(rows(1 to 200).repartition(8)) // 8 small files
    t.delete((10L to 200L by 10L).toDF("id")) // vectors across most files
    val m = t.manifest(t.currentVersion)
    val vectored = m.files.filter(_.dvPath.isDefined)
    assert(vectored.size >= 4, s"setup: expected spread vectors, " +
      s"got ${vectored.size}")
    val cleanPaths = m.files.filter(_.dvPath.isEmpty).map(_.path).toSet
    val v = t.purgeDeletionVectors()
    val freshFiles = t.manifest(v).files.filterNot(e => cleanPaths(e.path))
    assert(freshFiles.size == 1, // default targetPartitions=1 → one bin
      s"expected one bin-packed purge output, got ${freshFiles.size}")
    assert(t.read().count() == 180)
  }

  test("time travel: pre-delete version still sees every row") {
    val t = fresh()
    t.create(rows(1 to 25).coalesce(1))
    t.delete(Seq(12L).toDF("id"))
    assert(t.readVersion(1).count() == 25)
    assert(t.readVersion(2).count() == 24)
  }

  test("DSv2 scan subtracts vectors (columnar, batch-compacted)") {
    val t = fresh()
    t.create(rows(1 to 60).repartition(3))
    t.delete(Seq(6L, 16L, 26L).toDF("id"))
    val df = spark.read.format("graft").load(t.root.toString)
    assert(df.count() == 57)
    assert(!df.select("id").as[Long].collect().contains(6L))
    // pushed key-range scan on a vectored table stays exact
    assert(df.filter(col("id") <= 10).count() == 9)
  }

  test("vacuum keeps referenced sidecars, sweeps expired ones") {
    val t = fresh()
    t.create(rows(1 to 30).coalesce(1))
    t.delete(Seq(1L).toDF("id")) // v2: sidecar A
    t.delete(Seq(2L).toDF("id")) // v3: sidecar B (folds A's position)
    val sidecarA = t.manifest(2).files.flatMap(_.dvPath).head
    val sidecarB = t.manifest(3).files.flatMap(_.dvPath).head
    t.vacuum(retainLast = 1, orphanOlderThanMs = Long.MaxValue)
    assert(!java.nio.file.Files.exists(t.root.resolve(sidecarA)))
    assert(java.nio.file.Files.exists(t.root.resolve(sidecarB)))
    assert(t.read().count() == 28)
  }

  test("diffSnapshots sees DV-only deletes and MOR updates") {
    val t = fresh()
    t.create(rows(1 to 30).coalesce(1))
    t.delete(Seq(7L).toDF("id")) // DV-only commit: same data paths
    t.upsert(Seq((9L, "upd", 1.0), (31L, "new", 2.0)).toDF("id", "name", "v"))
    val d = t.diffSnapshots(1, t.currentVersion)
      .as[(Long, String)].collect().toSet
    assert(d == Set((7L, "removed"), (9L, "changed"), (31L, "added")))
  }

  test("shallow clone of a vectored table carries the sidecars") {
    val t = fresh()
    t.create(rows(1 to 40).coalesce(1))
    t.delete(Seq(4L, 8L).toDF("id"))
    val fork = t.shallowClone(t.root.getParent.resolve("fork").toString,
      Some("fork"))
    assert(fork.read().count() == 38)
    assert(!fork.read().select("id").as[Long].collect().contains(4L))
    // histories diverge: source mutates, clone unaffected
    t.delete(Seq(10L).toDF("id"))
    assert(fork.read().count() == 38 && t.read().count() == 37)
    // the clone's subtraction survives the SOURCE vacuuming its sidecar
    t.purgeDeletionVectors()
    t.vacuum(retainLast = 1, orphanOlderThanMs = Long.MaxValue)
    assert(fork.read().count() == 38)
  }

  test("empty-prune batch: fresh-key upsert appends, absent-key delete no-ops") {
    val t = fresh()
    t.create(rows(1 to 20).coalesce(1))
    // monotonically fresh keys: no file key range overlaps → touched = Nil,
    // so no position scan, checkpoint, mark count or matched-key distinct
    // runs — only the prune's key collect and the writes
    val (_, upsertJobs) = SparkJobs.counted(spark) {
      t.upsert(Seq((100L, "x", 1.0), (101L, "y", 2.0)).toDF("id", "name", "v"))
    }
    assert(upsertJobs <= 4, s"$upsertJobs jobs")
    assert(t.read().count() == 22)
    val v = t.currentVersion
    val absent = Seq(500L).toDF("id")
    val (_, pruneJobs) = SparkJobs.counted(spark) {
      KeyPrune.touched(t.manifest(v), t.root, absent)
    }
    val (_, deleteJobs) = SparkJobs.counted(spark)(t.delete(absent))
    assert(deleteJobs == pruneJobs) // absent keys: the prune alone
    assert(t.currentVersion == v && t.read().count() == 22)
  }

  test("purge keeps the partition column for segment-less old-layout files") {
    val dir = tmpDir("dvseg")
    val flat = CowTable(spark, dir + "/t", TableConfig("t", Seq("id"),
      changeDataFeed = true, deletionVectors = true))
    flat.create(Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0),
      (4L, "b", 4.0)).toDF("id", "cat", "v").coalesce(1)) // no cat= segment
    val t = flat.alterPartitionKey(Some("cat")) // metadata-only evolution
    t.delete(Seq(2L).toDF("id")) // sidecar lands on the flat-layout file
    val before = t.read().as[(Long, String, Double)].collect().toSet
    t.purgeDeletionVectors()
    val after = t.read().as[(Long, String, Double)].collect().toSet
    // cat must survive in the rewritten bytes (no cat= path segment to
    // re-derive it from) — a dropped column would null-fill here
    assert(after == before && after.forall(_._2 != null))
  }

  test("deletionVectors without changeDataFeed is rejected") {
    intercept[IllegalArgumentException] {
      TableConfig("bad", Seq("id"), deletionVectors = true)
    }
  }

  private def dvSqlSession(lake: String) = {
    val sess = spark.newSession()
    sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
    sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
    sess.sql("CREATE TABLE lake.default.t (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES (primaryKey 'id', changeDataFeed 'true', " +
      "deletionVectors 'true')")
    sess.sql(
      "INSERT INTO lake.default.t SELECT id, id * 1.0 FROM range(1, 101)")
    sess
  }

  test("SQL DELETE routes through deletion vectors: no data file rewritten") {
    val lake = tmpDir("dvsqldel")
    val sess = dvSqlSession(lake)
    val t = LakeRegistry.open(spark, lake, "t")
    val v1 = t.currentVersion
    val before = t.manifest(v1).files.map(_.path).toSet
    sess.sql("DELETE FROM lake.default.t WHERE id % 10 = 0")
    val m = t.manifest(t.currentVersion)
    assert(t.currentVersion == v1 + 1)
    assert(m.files.map(_.path).toSet == before) // same data files
    assert(m.files.exists(_.dvPath.isDefined))
    assert(m.files.map(_.dvRows).sum == 10)
    assert(sess.table("lake.default.t").count() == 90)
    assert(sess.sql(
      "SELECT count(*) FROM lake.default.t WHERE id % 10 = 0")
      .head().getLong(0) == 0)
    // CDF tombstones carry the preimage rows
    val feed = t.readChangeFeed(v1, v1 + 1)
      .filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().toSet
    assert(feed == (10L to 100L by 10L).toSet)
  }

  test("SQL UPDATE: positions marked, new rows appended, CDF exact") {
    val lake = tmpDir("dvsqlupd")
    val sess = dvSqlSession(lake)
    val t = LakeRegistry.open(spark, lake, "t")
    val v1 = t.currentVersion
    val before = t.manifest(v1).files.map(_.path).toSet
    sess.sql("UPDATE lake.default.t SET v = v + 100 WHERE id IN (3, 7)")
    val m = t.manifest(t.currentVersion)
    // original files survive with 2 marked positions; updated rows landed
    // as fresh appended files
    assert(before.subsetOf(m.files.map(_.path).toSet))
    assert(m.files.filter(e => before(e.path)).map(_.dvRows).sum == 2)
    assert(m.files.exists(e => !before(e.path)))
    assert(m.rowCount == 100)
    val got = sess.sql(
      "SELECT v FROM lake.default.t WHERE id IN (3, 7) ORDER BY id")
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(103.0, 107.0))
    val feed = t.readChangeFeed(v1, v1 + 1)
      .select("id", "v", "_change_type").as[(Long, Double, String)]
      .collect().toSet
    assert(feed == Set((3L, 3.0, "update_preimage"),
      (3L, 103.0, "update_postimage"),
      (7L, 7.0, "update_preimage"), (7L, 107.0, "update_postimage")))
  }

  test("SQL DELETE then UPDATE then purge: content converges exactly") {
    val lake = tmpDir("dvsqlmix")
    val sess = dvSqlSession(lake)
    val t = LakeRegistry.open(spark, lake, "t")
    sess.sql("DELETE FROM lake.default.t WHERE id <= 5")
    sess.sql("UPDATE lake.default.t SET v = -1.0 WHERE id = 50")
    // an UPDATE touching an ALREADY-VECTORED file folds positions
    sess.sql("UPDATE lake.default.t SET v = -2.0 WHERE id = 51")
    val expect = sess.table("lake.default.t")
      .as[(Long, Double)].collect().toSet
    assert(expect.size == 95 && expect((50L, -1.0)) && expect((51L, -2.0)))
    t.purgeDeletionVectors()
    assert(sess.table("lake.default.t").as[(Long, Double)].collect().toSet
      == expect)
    assert(t.manifest(t.currentVersion).files.forall(_.dvPath.isEmpty))
  }

  test("SQL DELETE/UPDATE on a PARTITIONED DV table keeps the hive layout") {
    val lake = tmpDir("dvsqlpart")
    val sess = spark.newSession()
    sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
    sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
    sess.sql("CREATE TABLE lake.default.p (id BIGINT, cat STRING, v DOUBLE)" +
      " PARTITIONED BY (cat) TBLPROPERTIES (primaryKey 'id', " +
      "changeDataFeed 'true', deletionVectors 'true')")
    sess.sql("INSERT INTO lake.default.p " +
      "SELECT id, concat('c', id % 3), id * 1.0 FROM range(1, 61)")
    val t = LakeRegistry.open(spark, lake, "p")
    val before = t.manifest(t.currentVersion).files.map(_.path).toSet
    sess.sql("DELETE FROM lake.default.p WHERE id % 20 = 0")
    sess.sql("UPDATE lake.default.p SET v = -1.0 WHERE id IN (7, 8)")
    val m = t.manifest(t.currentVersion)
    assert(before.subsetOf(m.files.map(_.path).toSet)) // nothing rewritten
    assert(m.files.map(_.dvRows).sum == 5) // 3 deletes + 2 update marks
    // the appended update files landed under their hive partition dirs
    val freshFiles = m.files.filterNot(e => before(e.path))
    assert(freshFiles.nonEmpty &&
      freshFiles.forall(_.path.contains("cat=")))
    // content + partition column stay exact, incl. partition-pruned reads
    val got = sess.table("lake.default.p").as[(Long, String, Double)]
      .collect().map { case (i, c, x) => i -> ((c, x)) }.toMap
    assert(got.size == 57 && !got.contains(20L))
    assert(got(7L) == (("c1", -1.0)) && got(8L) == (("c2", -1.0)))
    assert(sess.sql(
      "SELECT count(*) FROM lake.default.p WHERE cat = 'c1'")
      .head().getLong(0) == 19) // 20 minus deleted id 40... c1: 1,4,..,58
  }

  test("bloomIndex + DV: SQL UPDATE's appended files get bloom sidecars") {
    val lake = tmpDir("dvbloom")
    val sess = spark.newSession()
    sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
    sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
    sess.sql("CREATE TABLE lake.default.b (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES (primaryKey 'id', changeDataFeed 'true', " +
      "deletionVectors 'true', bloomIndex 'true')")
    sess.sql("INSERT INTO lake.default.b SELECT id, id * 1.0 FROM range(1, 41)")
    sess.sql("UPDATE lake.default.b SET v = -1.0 WHERE id IN (3, 17)")
    val t = LakeRegistry.open(spark, lake, "b")
    val before = t.manifest(t.currentVersion - 1).files.map(_.path).toSet
    val fresh = t.manifest(t.currentVersion).files
      .filterNot(e => before(e.path))
    assert(fresh.nonEmpty)
    fresh.foreach { e =>
      assert(java.nio.file.Files.exists(
        t.root.resolve(e.path + ".bloom")),
        s"missing bloom sidecar for appended file ${e.path}")
    }
    assert(sess.sql("SELECT v FROM lake.default.b WHERE id = 3")
      .head().getDouble(0) == -1.0)
  }

  test("SQL MERGE on a vectored table does not resurrect DV-deleted rows") {
    val lake = tmpDir("dvsqlmerge")
    val sess = dvSqlSession(lake)
    val t = LakeRegistry.open(spark, lake, "t")
    t.delete(Seq(42L).toDF("id")) // Scala-API DV delete: sidecar attached
    sess.range(40, 45).selectExpr("id", "id * 2.0 AS v")
      .where("id != 42").createOrReplaceTempView("src")
    val before = t.manifest(t.currentVersion).files.map(_.path).toSet
    sess.sql(
      """MERGE INTO lake.default.t t USING src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // the delta scan subtracts the vectors before matching: 42 stays dead
    val got = sess.table("lake.default.t").as[(Long, Double)].collect().toMap
    assert(!got.contains(42L))
    assert(got(41L) == 82.0 && got(44L) == 88.0)
    assert(got.size == 99)
    // the round-13 contract: a MERGE on a DV table REWRITES NO DATA FILE —
    // every pre-merge file is still referenced (now vectored), the merge
    // added only fresh update/insert files + a positions sidecar
    val after = t.manifest(t.currentVersion).files
    assert(before.subsetOf(after.map(_.path).toSet),
      s"DV MERGE must not rewrite data files; dropped " +
        s"${before.diff(after.map(_.path).toSet)}")
  }

  test("DV MERGE with mixed UPDATE/DELETE/INSERT clauses: delta path, typed CDF") {
    val lake = tmpDir("dvmergemix")
    val sess = dvSqlSession(lake)
    val t = LakeRegistry.open(spark, lake, "t")
    val preVersion = t.currentVersion
    val before = t.manifest(preVersion).files.map(_.path).toSet
    // id 10 updated, id 20 deleted, id 200 inserted — one statement
    // (view on SESS: temp views are session-scoped)
    sess.sql(
      """SELECT * FROM VALUES (10L, 111.0, 'U'), (20L, 0.0, 'D'),
        |  (200L, 222.0, 'I') AS v(id, v, op)""".stripMargin)
      .createOrReplaceTempView("mix_src")
    sess.sql(
      """MERGE INTO lake.default.t t USING mix_src s ON t.id = s.id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
        |""".stripMargin)
    val got = sess.table("lake.default.t").as[(Long, Double)]
      .collect().toMap
    assert(got(10L) == 111.0 && !got.contains(20L) && got(200L) == 222.0)
    assert(got.size == 100) // 100 base − 1 deleted + 1 inserted
    // no data file rewritten
    val m2 = t.manifest(t.currentVersion)
    assert(before.subsetOf(m2.files.map(_.path).toSet))
    // both touched rows live as DV marks, not rewrites
    assert(m2.files.exists(_.dvPath.isDefined))
    // change feed typed per clause: delete vs update_preimage/postimage
    val feed = t.readChangeFeed(preVersion, t.currentVersion)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(feed.contains((20L, "delete")), s"feed=$feed")
    assert(feed.contains((10L, "update_preimage")), s"feed=$feed")
    assert(feed.contains((10L, "update_postimage")), s"feed=$feed")
    assert(feed.contains((200L, "insert")), s"feed=$feed")
    assert(!feed.contains((20L, "update_preimage")))
  }

  test("DV MERGE source bounds: match scan reads only candidate files") {
    val dir = tmpDir("dvsb") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      changeDataFeed = true, deletionVectors = true, clusterByKey = true))
    t.create((1L to 400L).map(i => (i, i * 1.0)).toDF("id", "v")
      .repartition(4))
    assert(t.manifest(1).files.size == 4)
    val before = t.manifest(1).files.map(_.path).toSet
    Seq((7L, 77.0), (401L, 401.0)).toDF("id", "v")
      .createOrReplaceTempView("dv_sb_src")
    spark.sql("DROP TABLE IF EXISTS dv_sb")
    // the 4-file fixture is below the bounds-job threshold — opt in
    spark.conf.set("graft.mergeSourcePruneMinFiles", "0")
    try {
      spark.sql(s"CREATE TABLE dv_sb USING graft LOCATION '$dir'")
      val merge = spark.sql(
        """MERGE INTO dv_sb t USING dv_sb_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |""".stripMargin)
      // delta path (no group filter exists here): only MergeSourcePrune can
      // bound the match scan — of the 4 range-clustered files exactly one
      // can contain source key 7 (401 is beyond every max)
      val plan = merge.queryExecution.executedPlan.toString
      assert(plan.contains("files=1/4"),
        s"expected source-bounded delta match scan files=1/4 in:\n$plan")
    } finally {
      spark.conf.unset("graft.mergeSourcePruneMinFiles")
      spark.sql("DROP TABLE IF EXISTS dv_sb")
    }
    val m2 = t.manifest(t.currentVersion)
    assert(before.subsetOf(m2.files.map(_.path).toSet)) // no rewrite
    val got = t.read().as[(Long, Double)].collect().toMap
    assert(got(7L) == 77.0 && got(401L) == 401.0 && got.size == 401)
    assert(got(6L) == 6.0 && got(8L) == 8.0) // co-located rows untouched
  }

  test("property: delta-path MERGE matches a relational replay; never " +
      "rewrites a data file") {
    val rnd = new scala.util.Random(20260813L)
    for (i <- 1 to 3) {
      val n = 40 + rnd.nextInt(200)
      val nFiles = 1 + rnd.nextInt(5)
      val dir = tmpDir("dvprop") + s"/t$i"
      val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
        changeDataFeed = true, deletionVectors = true,
        clusterByKey = rnd.nextBoolean()))
      val base = (1L to n).map(k => (k, k * 1.0))
      t.create(base.toDF("id", "v").repartition(nFiles))
      val before = t.manifest(1).files.map(_.path).toSet
      // random clause mix: op D deletes, U updates, keys past n insert
      val batch = (1 to 1 + rnd.nextInt(35)).map { _ =>
        val k = (1L + rnd.nextInt(n + 40)).toLong
        val op = rnd.nextInt(3) match {
          case 0 => "D"; case 1 => "U"; case _ => "I"
        }
        (k, k * 10.0, if (k > n) "I" else op)
      }.distinctBy(_._1)
      batch.toDF("id", "v", "op").createOrReplaceTempView(s"dvp_src_$i")
      spark.sql(s"DROP TABLE IF EXISTS dvp_$i")
      try {
        spark.sql(s"CREATE TABLE dvp_$i USING graft LOCATION '$dir'")
        spark.sql(
          s"""MERGE INTO dvp_$i t USING dvp_src_$i s ON t.id = s.id
             |WHEN MATCHED AND s.op = 'D' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET t.v = s.v
             |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
             |""".stripMargin)
      } finally spark.sql(s"DROP TABLE IF EXISTS dvp_$i")
      val bm = batch.map(b => b._1 -> b).toMap
      val expected =
        base.flatMap { case (k, v) => bm.get(k) match {
          case Some((_, _, "D")) => None
          case Some((_, nv, _)) => Some(k -> nv)
          case None => Some(k -> v)
        }}.toMap ++
          bm.collect { case (k, (_, nv, _)) if k > n => k -> nv }
      val got = t.read().as[(Long, Double)].collect().toMap
      assert(got == expected,
        s"case $i (n=$n files=$nFiles batch=${batch.size}): " +
          s"missing=${(expected.keySet -- got.keySet).take(5)} " +
          s"extra=${(got.keySet -- expected.keySet).take(5)}")
      // the delta-path invariant, whatever the clause mix
      val after = t.manifest(t.currentVersion).files.map(_.path).toSet
      assert(before.subsetOf(after),
        s"case $i rewrote data files: ${before.diff(after).take(3)}")
      // CDF accounts for exactly the touched rows, typed per clause
      val feed = t.readChangeFeed(1, t.currentVersion)
        .select("id", "_change_type").as[(Long, String)].collect()
      val deleted = base.map(_._1).toSet
        .intersect(bm.collect { case (k, (_, _, "D")) => k }.toSet)
      val updated = base.map(_._1).toSet
        .intersect(bm.collect { case (k, (_, _, op)) if op != "D" => k }.toSet)
      val inserted = expected.keySet -- base.map(_._1).toSet
      assert(feed.count(_._2 == "delete") == deleted.size)
      assert(feed.count(_._2 == "update_preimage") == updated.size)
      assert(feed.count(_._2 == "update_postimage") == updated.size)
      assert(feed.count(_._2 == "insert") == inserted.size)
    }
  }

  test("SQL surface: deletionVectors via TBLPROPERTIES reaches the config") {
    val lake = tmpDir("dvsql")
    val sess = spark.newSession()
    sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
    sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
    sess.sql("CREATE TABLE lake.default.dvt (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES (primaryKey 'id', changeDataFeed 'true', " +
      "deletionVectors 'true')")
    sess.sql("INSERT INTO lake.default.dvt VALUES (1, 1.0), (2, 2.0)")
    val t = LakeRegistry.open(spark, lake, "dvt")
    assert(t.config.deletionVectors)
    t.delete(Seq(1L).toDF("id"))
    assert(t.manifest(t.currentVersion).files.exists(_.dvPath.isDefined))
    assert(sess.table("lake.default.dvt").count() == 1)
  }
  /** Every vectored entry's `dvRows` equals its path's positions in its
    * sidecar, and no sidecar holds a (path, pos) twice — what lets a commit
    * derive `dvRows` as old count + new marks without reading back. */
  private def assertDvCountsExact(t: CowTable, after: String): Unit = {
    val m = t.manifest(t.currentVersion)
    assert(m.files.forall(e => e.dvPath.isDefined || e.dvRows == 0), after)
    m.files.filter(_.dvPath.isDefined).groupBy(_.dvPath.get).foreach {
      case (dvp, es) =>
        val marks = spark.read.parquet(t.root.resolve(dvp).toString)
          .select("path", "pos").as[(String, Long)].collect()
        assert(marks.length == marks.distinct.length,
          s"$after: duplicate positions in $dvp")
        val perPath = marks.groupBy(_._1).map { case (p, ps) =>
          p -> ps.length.toLong }
        es.foreach(e => assert(perPath.getOrElse(e.path, 0L) == e.dvRows,
          s"$after: ${e.path} dvRows=${e.dvRows} vs sidecar " +
            perPath.getOrElse(e.path, 0L)))
    }
  }

  test("dvRows equals the sidecar's positions per file across API and SQL " +
    "rounds on a partitioned table") {
    val lake = tmpDir("dvcount")
    val sess = spark.newSession()
    sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
    sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
    sess.sql("CREATE TABLE lake.default.p (id BIGINT, cat STRING, v DOUBLE)" +
      " PARTITIONED BY (cat) TBLPROPERTIES (primaryKey 'id', " +
      "changeDataFeed 'true', deletionVectors 'true')")
    sess.sql("INSERT INTO lake.default.p " +
      "SELECT id, concat('c', id % 3), id * 1.0 FROM range(1, 61)")
    val t = LakeRegistry.open(spark, lake, "p")
    def batch(ids: Long*) =
      ids.map(i => (i, s"c${i % 3}", -i.toDouble)).toDF("id", "cat", "v")
    def step(name: String)(op: => Unit): Unit = {
      op
      assertDvCountsExact(t, name)
    }
    var live = (1L to 60L).toSet
    def checkRound(round: Int): Unit = {
      val m = t.manifest(t.currentVersion)
      val ids = sess.table("lake.default.p").select("id").as[Long]
        .collect().toSet
      assert(ids == live, s"round $round")
      assert(m.files.map(_.liveRows).sum == live.size, s"round $round")
    }
    // round 1: first vectors on the inserted files
    step("api delete 1") { t.delete(Seq(3L, 6L).toDF("id")) }
    step("api upsert 1") { t.upsert(batch(4L, 61L)) }
    step("sql delete 1") {
      sess.sql("DELETE FROM lake.default.p WHERE id IN (9, 10)")
    }
    step("sql merge 1") {
      sess.sql("""MERGE INTO lake.default.p t USING (SELECT * FROM VALUES
        |  (11L, 'c2', 111.0, 'U'), (12L, 'c0', 0.0, 'D'),
        |  (62L, 'c2', 62.0, 'I') AS s(id, cat, v, op)) s ON t.id = s.id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    live = live -- Set(3L, 6L, 9L, 10L, 12L) ++ Set(61L, 62L)
    checkRound(1)
    // round 2: the same (already vectored) files, plus rows round 1 moved
    // into appended files
    step("api delete 2") { t.delete(Seq(15L, 4L).toDF("id")) }
    step("api upsert 2") { t.upsert(batch(16L, 11L)) }
    step("sql delete 2") {
      sess.sql("DELETE FROM lake.default.p WHERE id IN (18, 61)")
    }
    step("sql update 2") {
      sess.sql("UPDATE lake.default.p SET v = -1.0 WHERE id IN (19, 20)")
    }
    live = live -- Set(15L, 4L, 18L, 61L)
    checkRound(2)
    // round 3: a delete-only MERGE whose source matches one row twice
    step("sql merge 3") {
      sess.sql("""MERGE INTO lake.default.p t USING (SELECT * FROM VALUES
        |  (21L), (21L), (22L) AS s(id)) s ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    step("api delete 3") { t.delete(Seq(24L, 25L).toDF("id")) }
    step("api upsert 3") { t.upsert(batch(26L, 19L)) }
    step("sql merge 3b") {
      sess.sql("""MERGE INTO lake.default.p t USING (SELECT * FROM VALUES
        |  (27L, 'c0', 270.0) AS s(id, cat, v)) s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    }
    live = live -- Set(21L, 22L, 24L, 25L)
    checkRound(3)
    val feed = t.readChangeFeed(t.currentVersion - 4, t.currentVersion - 3)
      .filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().toSeq.sorted
    assert(feed == Seq(21L, 22L)) // one tombstone per deleted row
  }
}
