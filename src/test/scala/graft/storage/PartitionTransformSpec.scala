package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class PartitionTransformSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, String, Double)*): DataFrame =
    rows.toSeq.toDF("id", "ts_s", "v")
      .selectExpr("id", "CAST(ts_s AS TIMESTAMP) AS ts", "v")

  test("spec strings parse and round-trip; bad specs are loud") {
    assert(PartitionTransform.parse("day(ts)").spec == "day(ts)")
    assert(PartitionTransform.parse("month(ts)").name == "ts_month")
    assert(PartitionTransform.parse("bucket(16,id)") ==
      PartitionTransform("bucket", "id", 16))
    assert(PartitionTransform.parse("truncate(4,name)").spec ==
      "truncate(4,name)")
    assert(PartitionTransform.parse("hour(ts)").name == "ts_hour")
    assert(PartitionTransform.parse("year(ts)").spec == "year(ts)")
    intercept[IllegalArgumentException](
      PartitionTransform.parse("minute(ts)"))
    intercept[IllegalArgumentException](PartitionTransform.parse("bucket(0,x)"))
    intercept[IllegalArgumentException](PartitionTransform.parse("day(a,b)"))
  }

  test("bucketLocal replays the bucket column expression exactly") {
    val vals = Seq("0", "1", "42", "-7", "hello", "ümlaut", "9999999")
    val n = 16
    val viaCol = vals.toDF("s")
      .select(PartitionTransform.bucketOf($"s", n)).as[Long].collect().toSeq
    assert(viaCol == vals.map(PartitionTransform.bucketLocal(_, n)))
    // long inputs cast to the same strings
    val longs = Seq(0L, 1L, 42L, -7L, 9999999L)
    val viaLong = longs.toDF("x")
      .select(PartitionTransform.bucketOf($"x", n)).as[Long].collect().toSeq
    assert(viaLong == longs.map(x =>
      PartitionTransform.bucketLocal(String.valueOf(x), n)))
  }

  test("day transform: hive layout on the generated column, round-trip") {
    val dir = tmpDir("pt") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionSpec = Some("day(ts)")))
    t.create(ev(
      (1L, "2024-03-01 10:00:00", 1.0), (2L, "2024-03-01 23:59:59", 2.0),
      (3L, "2024-03-02 00:00:00", 3.0), (4L, "2024-03-05 12:00:00", 4.0)))
    val dirs = t.manifest(1).files.map(_.path.split('/').dropRight(1)
      .find(_.startsWith("ts_day=")).get).distinct.sorted
    assert(dirs == Seq("ts_day=2024-03-01", "ts_day=2024-03-02",
      "ts_day=2024-03-05"))
    // generated column reads back (Delta generated-column visibility)
    val back = t.read()
    assert(back.columns.contains("ts_day"))
    assert(back.selectExpr("id", "CAST(ts_day AS STRING)")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "2024-03-01"), (2L, "2024-03-01"), (3L, "2024-03-02"),
        (4L, "2024-03-05")))
  }

  test("hour and year transforms: layout, round-trip, source pruning") {
    val dir = tmpDir("pt") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionSpec = Some("hour(ts)")))
    t.create(ev(
      (1L, "2024-03-01 10:15:00", 1.0), (2L, "2024-03-01 10:45:00", 2.0),
      (3L, "2024-03-01 11:05:00", 3.0), (4L, "2024-03-02 00:00:00", 4.0)))
    val dirs = t.manifest(1).files.map(_.path.split('/').dropRight(1)
      .find(_.startsWith("ts_hour=")).get).distinct.sorted
    assert(dirs == Seq("ts_hour=2024-03-01-10", "ts_hour=2024-03-01-11",
      "ts_hour=2024-03-02-00"))
    // scans prune hour dirs from predicates on the SOURCE timestamp
    val scan = spark.read.format("graft").load(dir)
      .filter($"ts" >= "2024-03-01 11:00:00")
    assert(scan.select("id").as[Long].collect().toSet == Set(3L, 4L))
    val fm = """files=(\d+)/(\d+)""".r
      .findFirstMatchIn(scan.queryExecution.executedPlan.toString).get
    assert(fm.group(1).toInt < fm.group(2).toInt,
      s"expected hour pruning, got files=${fm.group(0)}")

    val dir2 = tmpDir("pt") + "/t"
    val t2 = CowTable(spark, dir2,
      TableConfig("t", Seq("id"), partitionSpec = Some("year(ts)")))
    t2.create(ev(
      (1L, "2023-06-01 00:00:00", 1.0), (2L, "2024-02-01 00:00:00", 2.0)))
    assert(t2.manifest(1).files.map(_.path.split('/').dropRight(1)
      .find(_.startsWith("ts_year=")).get).distinct.sorted ==
      Seq("ts_year=2023", "ts_year=2024"))
    // bound INSIDE 2023: a boundary cut (< 2024-01-01) keeps the bound
    // partition conservatively (LessThan pruning is inclusive of it)
    val scan2 = spark.read.format("graft").load(dir2)
      .filter($"ts" < "2023-07-01 00:00:00")
    assert(scan2.select("id").as[Long].collect().toSeq == Seq(1L))
    val fm2 = """files=(\d+)/(\d+)""".r
      .findFirstMatchIn(scan2.queryExecution.executedPlan.toString).get
    assert(fm2.group(1).toInt < fm2.group(2).toInt,
      s"expected year pruning, got files=${fm2.group(0)}")
  }

  test("generation funnel: upsert batches can omit or even drift the column") {
    val dir = tmpDir("pt") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionSpec = Some("day(ts)")))
    t.create(ev((1L, "2024-03-01 10:00:00", 1.0)))
    // batch WITHOUT the generated column
    t.upsert(ev((2L, "2024-03-02 09:00:00", 2.0)))
    // batch WITH a WRONG value — the funnel recomputes, drift is impossible
    t.upsert(ev((3L, "2024-03-03 08:00:00", 3.0))
      .withColumn("ts_day", lit("1999-01-01").cast("date")))
    val got = t.read().selectExpr("id", "CAST(ts_day AS STRING)")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "2024-03-01"), (2L, "2024-03-02"),
      (3L, "2024-03-03")))
    assert(t.manifest(t.currentVersion).files.forall(e =>
      !e.path.contains("1999-01-01")))
  }

  test("hidden partitioning: source-range predicates prune day partitions") {
    val dir = tmpDir("pt") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionSpec = Some("day(ts)")))
    t.create(ev(
      (1L, "2024-03-01 10:00:00", 1.0), (2L, "2024-03-02 10:00:00", 2.0),
      (3L, "2024-03-03 10:00:00", 3.0), (4L, "2024-03-04 10:00:00", 4.0)))
    val nFiles = t.manifest(1).files.size
    val scan = spark.read.format("graft").load(dir)
      .filter($"ts" >= "2024-03-03 05:00:00")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains(s"files=2/$nFiles"),
      s"expected day-partition pruning in:\n$plan")
    assert(scan.select("id").as[Long].collect().toSet == Set(3L, 4L))
    // equality on the source timestamp prunes to its single day
    val eq = spark.read.format("graft").load(dir)
      .filter($"ts" === java.sql.Timestamp.valueOf("2024-03-02 10:00:00"))
    assert(eq.queryExecution.executedPlan.toString
      .contains(s"files=1/$nFiles"))
    assert(eq.select("id").as[Long].collect().toSeq == Seq(2L))
    // bounded range prunes both ends exactly: day 2024-03-04's interval
    // starts at the strict `< 2024-03-04 00:00` bound, so it can't match
    val mid = spark.read.format("graft").load(dir)
      .filter($"ts" >= "2024-03-02 00:00:00" && $"ts" < "2024-03-04 00:00:00")
    assert(mid.queryExecution.executedPlan.toString
      .contains(s"files=2/$nFiles"))
    assert(mid.select("id").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("bucket transform: equality prunes, ranges do not (not monotone)") {
    val dir = tmpDir("pt") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionSpec = Some("bucket(4,id)")))
    t.create((1L to 40L).map(i => (i, s"n$i")).toDF("id", "name"))
    val m = t.manifest(1)
    val nFiles = m.files.size
    assert(m.partitionKey.contains("id_bucket"))
    val expectBucket = PartitionTransform.bucketLocal("7", 4)
    val eq = spark.read.format("graft").load(dir).filter($"id" === 7L)
    val plan = eq.queryExecution.executedPlan.toString
    // the bucket dirs this value cannot live in are pruned
    val kept = m.files.count(_.path.contains(s"id_bucket=$expectBucket"))
    assert(plan.contains(s"files=$kept/$nFiles"),
      s"expected bucket pruning to $kept/$nFiles in:\n$plan")
    assert(eq.select("name").as[String].collect().toSeq == Seq("n7"))
    // a range on the source must NOT prune through the bucket transform
    val rng = spark.read.format("graft").load(dir).filter($"id" >= 35L)
    // key-range stats still prune (id is the primary key) — so compare
    // against a NON-key source: rebuild on a value column
    assert(rng.select("id").as[Long].collect().toSet == (35L to 40L).toSet)
  }

  test("GROUP BY the generated column answers from the manifest (0 files)") {
    val dir = tmpDir("pt") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionSpec = Some("day(ts)")))
    t.create(ev(
      (1L, "2024-03-01 10:00:00", 1.0), (2L, "2024-03-01 11:00:00", 2.0),
      (3L, "2024-03-02 10:00:00", 3.0)))
    val agg = spark.read.format("graft").load(dir)
      .groupBy("ts_day").count()
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("manifest_agg_"),
      s"expected grouped manifest pushdown in:\n$plan")
    assert(agg.selectExpr("CAST(ts_day AS STRING)", "count")
      .as[(String, Long)].collect().toSet ==
      Set(("2024-03-01", 2L), ("2024-03-02", 1L)))
  }

  test("null source values land in the null dir; ranges skip it exactly") {
    val dir = tmpDir("pt") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionSpec = Some("day(ts)")))
    t.create(Seq((1L, Some("2024-03-01 10:00:00"), 1.0),
        (2L, None, 2.0)).toDF("id", "ts_s", "v")
      .selectExpr("id", "CAST(ts_s AS TIMESTAMP) AS ts", "v"))
    val scan = spark.read.format("graft").load(dir)
      .filter($"ts" >= "2024-01-01 00:00:00")
    assert(scan.select("id").as[Long].collect().toSeq == Seq(1L))
    val all = spark.read.format("graft").load(dir)
    assert(all.select("id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("remaining fences: double key is loud; transform->identity evolves") {
    val dir = tmpDir("pt") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionSpec = Some("day(ts)")))
    t.create(ev((1L, "2024-03-01 10:00:00", 1.0)))
    // transform-partitioned tables EVOLVE now (round-16 lift of the old
    // fence — see PartitionEvolutionSpec for the full matrix)
    val t1 = t.alterPartitionKey(Some("v"))
    assert(t1.manifest(t1.currentVersion).partitionKey.contains("v"))
    assert(t1.manifest(t1.currentVersion).priorSpecs == Seq("day(ts)"))
    intercept[IllegalArgumentException] {
      TableConfig("t", Seq("id"), partitionKey = Some("v"),
        partitionSpec = Some("day(ts)"))
    }
  }

  test("deletion vectors + day transform: delta MERGE/DELETE keep layout, " +
      "rewrite nothing") {
    val dir = tmpDir("ptdv") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionSpec = Some("day(ts)"),
        changeDataFeed = true, deletionVectors = true))
    t.create(ev(
      (1L, "2024-03-01 10:00:00", 1.0), (2L, "2024-03-01 11:00:00", 2.0),
      (3L, "2024-03-02 10:00:00", 3.0), (4L, "2024-03-03 10:00:00", 4.0)))
    val preV = t.currentVersion
    val before = t.manifest(preV).files.map(_.path).toSet
    // MERGE: move id=1 ACROSS a day boundary (+2 days, with a WRONG ts_day
    // the engine must override), delete id=3, insert id=9 — one statement
    ev((1L, "2024-03-03 10:00:00", 11.0))
      .withColumn("op", lit("U"))
      .unionByName(ev((3L, "2024-03-02 10:00:00", 0.0))
        .withColumn("op", lit("D")))
      .unionByName(ev((9L, "2024-03-09 09:00:00", 9.0))
        .withColumn("op", lit("I")))
      .withColumn("ts_day", lit("1999-01-01").cast("date"))
      .createOrReplaceTempView("ptdv_src")
    spark.sql("DROP TABLE IF EXISTS ptdv_t")
    try {
      spark.sql(s"CREATE TABLE ptdv_t USING graft LOCATION '$dir'")
      spark.sql(
        """MERGE INTO ptdv_t t USING ptdv_src s ON t.id = s.id
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET t.ts = s.ts, t.v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, ts, v, ts_day)
          |  VALUES (s.id, s.ts, s.v, s.ts_day)
          |""".stripMargin)
      spark.sql("DELETE FROM ptdv_t WHERE id = 4")
    } finally spark.sql("DROP TABLE IF EXISTS ptdv_t")
    val m2 = t.manifest(t.currentVersion)
    // delta path: the MERGE rewrote nothing (positions in sidecars — the
    // cross-day "move" never rewrote the old day's file). The trailing
    // `DELETE WHERE id = 4` is METADATA-ONLY since round 14 (id=4 is a
    // whole single-row file: min=max=4, every other file's range excludes
    // it) and DROPS that file — zero bytes written, strictly better than
    // a sidecar — so exactly one pre-merge file may vanish.
    val dropped = before.diff(m2.files.map(_.path).toSet)
    assert(dropped.size == 1 &&
      dropped.forall(_.contains("ts_day=2024-03-03")),
      s"only id=4's whole file may drop (metadata-only DELETE); dropped " +
        s"$dropped")
    assert(m2.files.exists(_.dvPath.isDefined))
    // the generated column was re-derived, never trusted from the source
    assert(m2.files.forall(e => !e.path.contains("1999-01-01")))
    assert(m2.files.exists(_.path.contains("ts_day=2024-03-03")))
    assert(m2.files.exists(_.path.contains("ts_day=2024-03-09")))
    // content exact: 1 moved+updated, 3 and 4 deleted, 9 inserted
    assert(t.read().selectExpr("id", "CAST(ts_day AS STRING)", "v")
      .as[(Long, String, Double)].collect().toSet ==
      Set((1L, "2024-03-03", 11.0), (2L, "2024-03-01", 2.0),
        (9L, "2024-03-09", 9.0)))
    // hidden partitioning still prunes on the SOURCE column post-mutation
    val scan = spark.read.format("graft").load(dir)
      .filter($"ts" >= "2024-03-09 00:00:00")
    assert(scan.select("id").as[Long].collect().toSeq == Seq(9L))
    val fm = """files=(\d+)/(\d+)""".r
      .findFirstMatchIn(scan.queryExecution.executedPlan.toString).get
    assert(fm.group(1).toInt < fm.group(2).toInt,
      s"expected day pruning, got files=${fm.group(0)}")
    // CDF typed per clause across the whole lifecycle
    val feed = t.readChangeFeed(preV, t.currentVersion)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(feed.contains((1L, "update_preimage")))
    assert(feed.contains((1L, "update_postimage")))
    assert(feed.contains((3L, "delete")) && feed.contains((4L, "delete")))
    assert(feed.contains((9L, "insert")))
    // purge retires the vectors; content identical, layout preserved
    t.purgeDeletionVectors()
    assert(t.read().selectExpr("id", "CAST(ts_day AS STRING)", "v")
      .as[(Long, String, Double)].collect().toSet ==
      Set((1L, "2024-03-03", 11.0), (2L, "2024-03-01", 2.0),
        (9L, "2024-03-09", 9.0)))
    assert(t.manifest(t.currentVersion).files.forall(_.dvPath.isEmpty))
  }

  test("delta path: SQL DELETE strictly inside a file's key range keeps " +
      "the sidecar contract — no file dropped, positions vectored") {
    val dir = tmpDir("ptdv") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionSpec = Some("day(ts)"),
        changeDataFeed = true, deletionVectors = true))
    t.create(ev(
      (1L, "2024-03-01 10:00:00", 1.0), (2L, "2024-03-01 11:00:00", 2.0),
      (3L, "2024-03-02 10:00:00", 3.0)))
    val preV = t.currentVersion
    val before = t.manifest(preV).files.map(_.path).toSet
    spark.sql("DROP TABLE IF EXISTS ptdv_sc")
    try {
      spark.sql(s"CREATE TABLE ptdv_sc USING graft LOCATION '$dir'")
      // the 03-01 file holds {1,2}: id=2 is strictly inside its key range
      // (min=1 < 2 = max), so metadata cannot decide All-or-No — this must
      // DECLINE to the row-level delta path and write a sidecar
      spark.sql("DELETE FROM ptdv_sc WHERE id = 2")
    } finally spark.sql("DROP TABLE IF EXISTS ptdv_sc")
    val m2 = t.manifest(t.currentVersion)
    assert(before.subsetOf(m2.files.map(_.path).toSet),
      s"sidecar path must keep every file; dropped " +
        s"${before.diff(m2.files.map(_.path).toSet)}")
    assert(m2.files.exists(e =>
      e.dvPath.isDefined && e.path.contains("ts_day=2024-03-01")),
      "the partially-covered file must carry a deletion vector")
    assert(t.read().select("id").as[Long].collect().toSet == Set(1L, 3L))
    // materialized CDF for the row-level commit: exactly one delete row
    // (fromVersion is the exclusive base)
    val feed = t.readChangeFeed(preV, t.currentVersion)
      .select("id", "_change_type").as[(Long, String)].collect().toSeq
    assert(feed == Seq((2L, "delete")))
  }

  test("deletion vectors + day transform: API MOR upsert and delete") {
    val dir = tmpDir("ptdv") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionSpec = Some("day(ts)"),
        changeDataFeed = true, deletionVectors = true))
    t.create(ev(
      (1L, "2024-03-01 10:00:00", 1.0), (2L, "2024-03-02 10:00:00", 2.0)))
    val before = t.manifest(1).files.map(_.path).toSet
    // API DV delete: sidecar only
    t.delete(Seq(Tuple1(2L)).toDF("id"))
    assert(t.manifest(t.currentVersion).files.map(_.path).toSet == before)
    // API upsert (funnel recomputes the generated column; batch omits it)
    t.upsert(ev((5L, "2024-03-05 10:00:00", 5.0)))
    val m = t.manifest(t.currentVersion)
    assert(before.subsetOf(m.files.map(_.path).toSet))
    assert(m.files.exists(_.path.contains("ts_day=2024-03-05")))
    assert(t.read().selectExpr("id", "CAST(ts_day AS STRING)")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "2024-03-01"), (5L, "2024-03-05")))
  }

  // ---- unfenced SQL/connector mutations (TransformRecompute, round 13):
  // Iceberg's whole point for days(ts)/bucket(N) is that mutations keep
  // working; the generated column is re-derived inside the write plan.

  test("connector INSERT INTO recomputes the generated column") {
    val dir = tmpDir("pt") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionSpec = Some("day(ts)")))
    t.create(ev((1L, "2024-03-01 10:00:00", 1.0)))
    // append WITHOUT ts_day via DataFrame API: schema must align to the
    // table, so carry a deliberately WRONG generated value — the funnel
    // must overwrite it
    ev((9L, "2024-03-09 00:00:00", 9.0))
      .withColumn("ts_day", lit("1999-01-01").cast("date"))
      .write.format("graft").mode("append").save(dir)
    val got = t.read().selectExpr("id", "CAST(ts_day AS STRING)")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "2024-03-01"), (9L, "2024-03-09")))
    assert(t.manifest(t.currentVersion).files.forall(e =>
      !e.path.contains("1999-01-01")))
    assert(t.manifest(t.currentVersion).files.exists(
      _.path.contains("ts_day=2024-03-09")))
  }

  test("SQL MERGE/UPDATE/DELETE on a day(ts) table; UPDATE moves the day dir") {
    val dir = tmpDir("pt") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionSpec = Some("day(ts)")))
    t.create(ev(
      (1L, "2024-03-01 10:00:00", 1.0), (2L, "2024-03-02 10:00:00", 2.0),
      (3L, "2024-03-03 10:00:00", 3.0)))
    spark.sql("DROP TABLE IF EXISTS pt_mut")
    spark.sql(s"CREATE TABLE pt_mut USING graft LOCATION '$dir'")
    try {
      // MERGE: update row 1's value, insert row 4 (ts_day derived, the
      // source's wrong literal ignored)
      ev((1L, "2024-03-01 10:00:00", 10.0), (4L, "2024-03-04 09:00:00", 4.0))
        .withColumn("ts_day", lit("1999-01-01").cast("date"))
        .createOrReplaceTempView("pt_mut_src")
      spark.sql(
        """MERGE INTO pt_mut t USING pt_mut_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.v = s.v
          |WHEN NOT MATCHED THEN INSERT *
          |""".stripMargin)
      assert(spark.sql(
        "SELECT id, CAST(ts_day AS STRING) FROM pt_mut")
        .as[(Long, String)].collect().toSet ==
        Set((1L, "2024-03-01"), (2L, "2024-03-02"), (3L, "2024-03-03"),
          (4L, "2024-03-04")))
      assert(spark.sql("SELECT v FROM pt_mut WHERE id = 1")
        .as[Double].head() == 10.0)
      // UPDATE that moves ts across a day boundary: the row must MOVE to
      // the new hive dir (generated column re-derived, not stale)
      spark.sql(
        "UPDATE pt_mut SET ts = TIMESTAMP '2024-03-07 08:00:00' WHERE id = 2")
      assert(spark.sql(
        "SELECT CAST(ts_day AS STRING) FROM pt_mut WHERE id = 2")
        .as[String].head() == "2024-03-07")
      assert(t.manifest(t.currentVersion).files.exists(
        _.path.contains("ts_day=2024-03-07")))
      // source-predicate pruning still works after the mutations
      val nFiles = t.manifest(t.currentVersion).files.size
      val scan = spark.read.format("graft").load(dir)
        .filter($"ts" >= "2024-03-07 00:00:00")
      val plan = scan.queryExecution.executedPlan.toString
      val fm = """files=(\d+)/(\d+)""".r.findFirstMatchIn(plan).get
      assert(fm.group(1).toInt < fm.group(2).toInt,
        s"expected day pruning after mutations in:\n$plan")
      assert(scan.select("id").as[Long].collect().toSet == Set(2L))
      // DELETE
      spark.sql("DELETE FROM pt_mut WHERE id = 3")
      assert(spark.sql("SELECT id FROM pt_mut").as[Long].collect().toSet ==
        Set(1L, 2L, 4L))
    } finally spark.sql("DROP TABLE IF EXISTS pt_mut")
  }

  test("SQL INSERT INTO + static partition OVERWRITE on a transform table") {
    val dir = tmpDir("pt") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionSpec = Some("day(ts)")))
    t.create(ev((1L, "2024-03-01 10:00:00", 1.0)))
    spark.sql("DROP TABLE IF EXISTS pt_ins")
    spark.sql(s"CREATE TABLE pt_ins USING graft LOCATION '$dir'")
    try {
      spark.sql(
        """INSERT INTO pt_ins
          |SELECT 5L, TIMESTAMP '2024-03-05 12:00:00', 5.0, DATE '1999-01-01'
          |""".stripMargin)
      assert(spark.sql(
        "SELECT id, CAST(ts_day AS STRING) FROM pt_ins")
        .as[(Long, String)].collect().toSet ==
        Set((1L, "2024-03-01"), (5L, "2024-03-05")))
      // static partition overwrite addresses the GENERATED column directly
      spark.sql(
        """INSERT OVERWRITE pt_ins PARTITION (ts_day = '2024-03-05')
          |SELECT 6L, TIMESTAMP '2024-03-05 18:00:00', 6.0
          |""".stripMargin)
      assert(spark.sql("SELECT id FROM pt_ins").as[Long].collect().toSet ==
        Set(1L, 6L))
    } finally spark.sql("DROP TABLE IF EXISTS pt_ins")
  }

  test("streaming sink on a transform table re-derives the generated column") {
    val base = tmpDir("pt")
    val srcT = CowTable(spark, base + "/src", TableConfig("src", Seq("id")))
    // the stream payload carries a deliberately WRONG ts_day — the sink
    // computes the dir from ts and drops the column from file bytes, so
    // drift is impossible by construction
    srcT.create(ev(
      (1L, "2024-03-01 10:00:00", 1.0), (2L, "2024-03-02 23:59:59", 2.0),
      (3L, "2024-03-05 00:00:00", 3.0)))
    val dstT = CowTable(spark, base + "/dst",
      TableConfig("dst", Seq("id"), partitionSpec = Some("day(ts)")))
    dstT.create(ev((9L, "2024-03-09 10:00:00", 9.0)))
    val q = spark.readStream.format("graft").load(base + "/src")
      .withColumn("ts_day", lit("1999-01-01").cast("date"))
      .writeStream.format("graft")
      .option("path", base + "/dst").option("primaryKey", "id")
      .option("checkpointLocation", base + "/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val m = dstT.manifest(dstT.currentVersion)
    assert(m.files.forall(e => !e.path.contains("1999-01-01")))
    assert(m.files.exists(_.path.contains("ts_day=2024-03-01")))
    assert(m.files.exists(_.path.contains("ts_day=2024-03-05")))
    assert(dstT.read().selectExpr("id", "CAST(ts_day AS STRING)")
      .as[(Long, String)].collect().toSet ==
      Set((1L, "2024-03-01"), (2L, "2024-03-02"), (3L, "2024-03-05"),
        (9L, "2024-03-09")))
    // a stream OMITTING the generated column works identically (the dir is
    // computed, the bytes never held the column)
    val src2 = CowTable(spark, base + "/src2", TableConfig("src2", Seq("id")))
    src2.create(ev((5L, "2024-03-07 12:00:00", 5.0)))
    val q2 = spark.readStream.format("graft").load(base + "/src2")
      .writeStream.format("graft")
      .option("path", base + "/dst").option("primaryKey", "id")
      .option("checkpointLocation", base + "/ckpt2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(dstT.read().filter($"id" === 5L)
      .selectExpr("CAST(ts_day AS STRING)").as[String].collect().toSeq ==
      Seq("2024-03-07"))
    // the transform's pruning contract holds over the streamed rows
    val scan = spark.read.format("graft").load(base + "/dst")
      .filter($"ts" >= "2024-03-07 00:00:00")
    assert(scan.select("id").as[Long].collect().toSet == Set(5L, 9L))
  }

  test("property: transform layout round-trips adversarial values on API " +
      "and SQL write paths") {
    // the generated column is DROPPED from file bytes — reads re-derive it
    // from the hive dir, so the whole (derive → escapePathName → dir →
    // unescape → parse) loop must be the identity for ANY source value:
    // unicode, hive metacharacters, pre-1970 timestamps, nulls
    val rnd = new scala.util.Random(20260814L)
    // ASCII-only: this container's JVM runs sun.jnu.encoding=ANSI_X3.4-1968,
    // so the FILESYSTEM cannot take non-ASCII dir names (vanilla Spark's own
    // partitionBy fails identically — environment, not engine; standard hive
    // escaping keeps non-ASCII raw, and on UTF-8 filesystems it works)
    val tricky = Seq("a=b", "x/y", "sp ace", "%25", "#hash", "colon:c",
      "dot.", "tab\tchar", "+plus+", "comma,sep", "'quote", "0", "\\back")
    def randStr(): String =
      if (rnd.nextInt(3) == 0) tricky(rnd.nextInt(tricky.size))
      else rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString
    def randTs(): java.sql.Timestamp = // 1932..2096, second precision
      new java.sql.Timestamp((rnd.nextLong() % 2000000000L) * 2000L)
    for ((spec, idx) <- Seq("day(ts)", "month(ts)",
        s"bucket(${1 + rnd.nextInt(16)},name)",
        s"truncate(${1 + rnd.nextInt(5)},name)").zipWithIndex) {
      val isTs = spec.startsWith("day") || spec.startsWith("month")
      val dir = tmpDir("ptprop") + s"/t$idx"
      val t = CowTable(spark, dir,
        TableConfig("t", Seq("id"), partitionSpec = Some(spec)))
      def rows(r: Range) = r.map { k =>
        val nullSrc = rnd.nextInt(7) == 0
        if (isTs) (k.toLong, if (nullSrc) null else randTs(), null: String)
        else (k.toLong, null: java.sql.Timestamp,
          if (nullSrc) null else randStr())
      }
      def frame(r: Range) =
        if (isTs) rows(r).map(x => (x._1, x._2)).toDF("id", "ts")
        else rows(r).map(x => (x._1, x._3)).toDF("id", "name")
      val tr = PartitionTransform.parse(spec)
      t.create(frame(1 to 40))                    // API funnel
      t.upsert(frame(41 to 60))                   // API funnel, second path
      spark.sql(s"DROP TABLE IF EXISTS ptp_$idx")
      try {                                       // SQL MERGE (insert-only)
        spark.sql(s"CREATE TABLE ptp_$idx USING graft LOCATION '$dir'")
        frame(61 to 80)
          .withColumn(tr.name, lit(null).cast(t.read().schema(tr.name)
            .dataType))
          .createOrReplaceTempView(s"ptp_src_$idx")
        spark.sql(
          s"""MERGE INTO ptp_$idx t USING ptp_src_$idx s ON t.id = s.id
             |WHEN NOT MATCHED THEN INSERT *
             |""".stripMargin)
      } finally spark.sql(s"DROP TABLE IF EXISTS ptp_$idx")
      // path-derived generated values ≡ direct expression evaluation
      val got = t.read()
        .selectExpr("id", s"CAST(${tr.name} AS STRING)")
        .as[(Long, String)].collect().toMap
      val expected = t.read().drop(tr.name)
        .withColumn(tr.name, tr.expr)
        .selectExpr("id", s"CAST(${tr.name} AS STRING)")
        .as[(Long, String)].collect().toMap
      assert(got.size == 80 && got == expected,
        s"$spec: ${got.toSet.diff(expected.toSet).take(5)} vs " +
          s"${expected.toSet.diff(got.toSet).take(5)}")
    }
  }

  test("SQL surface: CREATE TABLE PARTITIONED BY (days(ts)) + INSERT-free population") {
    val lake = tmpDir("ptlake")
    val sess = spark.newSession()
    sess.conf.set("spark.sql.catalog.ptlake", "graft.sources.GraftCatalog")
    sess.conf.set("spark.sql.catalog.ptlake.warehouse", lake)
    sess.sql(
      """CREATE TABLE ptlake.default.evd (
        |  id BIGINT, ts TIMESTAMP, v DOUBLE)
        |USING graft PARTITIONED BY (days(ts))
        |TBLPROPERTIES ('primaryKey' = 'id')
        |""".stripMargin)
    val root = lake + "/evd"
    val cfg = CowTable.configAt(java.nio.file.Paths.get(root),
      TableConfig("evd", Seq("id")))
    assert(cfg.partitionSpec.contains("day(ts)"))
    // populate through the API funnel (connector writes are fenced)
    val t = CowTable(spark, root, cfg)
    t.upsert(ev((1L, "2024-04-01 00:10:00", 1.0),
      (2L, "2024-04-02 00:10:00", 2.0)))
    val got = sess.sql(
      "SELECT id FROM ptlake.default.evd WHERE ts < TIMESTAMP '2024-04-02 00:00:00'")
    assert(got.collect().map(_.getLong(0)).toSeq == Seq(1L))
    // bucket + truncate transform create paths parse too
    sess.sql(
      """CREATE TABLE ptlake.default.docs (
        |  doc_id BIGINT, name STRING)
        |USING graft PARTITIONED BY (bucket(8, doc_id))
        |TBLPROPERTIES ('primaryKey' = 'doc_id')
        |""".stripMargin)
    assert(CowTable.configAt(java.nio.file.Paths.get(lake + "/docs"),
      TableConfig("docs", Seq("doc_id")))
      .partitionSpec.contains("bucket(8,doc_id)"))
  }
}
