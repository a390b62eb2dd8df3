package graft.sources

import graft.SparkSpec
import graft.storage.{CowTable, TableConfig}
import org.apache.spark.sql.SparkSession

class GraftCatalogSpec extends SparkSpec {

  private def lakeSession(lake: String): SparkSession = {
    val sess = spark.newSession()
    sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
    sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
    sess
  }

  test("CREATE / INSERT / SELECT / SHOW / DROP through three-part names") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.users (id BIGINT, name STRING) " +
      "OPTIONS (primaryKey 'id')")
    val shown = sess.sql("SHOW TABLES IN lake.default").collect()
      .map(_.getString(1))
    assert(shown.contains("users"), shown.mkString(", "))

    sess.sql("INSERT INTO lake.default.users VALUES (1, 'a'), (2, 'b')")
    sess.sql("INSERT INTO lake.default.users VALUES (3, 'c')")
    assert(sess.table("lake.default.users").count() == 3)

    // durable: a brand-new session sees the same catalog state
    val fresh = lakeSession(lake)
    assert(fresh.table("lake.default.users").count() == 3)

    assert(sess.sql("DROP TABLE lake.default.users") != null)
    val after = sess.sql("SHOW TABLES IN lake.default").collect()
    assert(!after.map(_.getString(1)).contains("users"))
    // data outlives the catalog row (un-register, not delete)
    assert(CowTable(spark, lake + "/users",
      TableConfig("users", Seq("id"))).read().count() == 3)
  }

  test("VERSION AS OF and TIMESTAMP AS OF travel through SQL") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.t (id BIGINT, v STRING) " +
      "OPTIONS (primaryKey 'id')")                       // v1: empty
    sess.sql("INSERT INTO lake.default.t VALUES (1, 'x'), (2, 'y')") // v2
    Thread.sleep(20) // distinct commit timestamps
    sess.sql("INSERT INTO lake.default.t VALUES (3, 'z')")           // v3
    assert(sess.sql(
      "SELECT * FROM lake.default.t VERSION AS OF 1").count() == 0)
    assert(sess.sql(
      "SELECT * FROM lake.default.t VERSION AS OF 2").count() == 2)
    assert(sess.table("lake.default.t").count() == 3)

    val v2ts = CowTable(spark, lake + "/t", TableConfig("t", Seq("id")))
      .manifest(2).commitTimeMs
    val lit = java.time.Instant.ofEpochMilli(v2ts).toString
    assert(sess.sql(
      s"SELECT * FROM lake.default.t TIMESTAMP AS OF '$lit'").count() == 2)
  }

  test("MERGE INTO a catalog table (row-level ops through the ident)") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.m (id BIGINT, v STRING) " +
      "OPTIONS (primaryKey 'id')")
    sess.sql("INSERT INTO lake.default.m VALUES (1, 'a'), (2, 'b')")
    sess.sql("SELECT * FROM VALUES (2, 'B'), (9, 'I') AS s(id, v)")
      .createOrReplaceTempView("src")
    sess.sql(
      """MERGE INTO lake.default.m t USING src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = sess.table("lake.default.m").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B", 9L -> "I"), got)
  }

  test("MERGE WITH SCHEMA EVOLUTION: source-only column lands (CDC pattern)") {
    // the reference's CDC batch ADDS last_applied_date and the target gains
    // the column (reference: src/hudi/hudi-cdc-load.py:94-95, Delta autoMerge
    // src/delta/delta-initial-load.py:33) — in SQL this is Spark 4's
    // MERGE WITH SCHEMA EVOLUTION, which routes through alterTable(AddColumn)
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.se (id BIGINT, v STRING) " +
      "OPTIONS (primaryKey 'id')")
    sess.sql("INSERT INTO lake.default.se VALUES (1, 'a'), (2, 'b')")
    sess.sql("SELECT * FROM VALUES (CAST(2 AS BIGINT), 'B', DATE'2024-03-01'), " +
      "(CAST(9 AS BIGINT), 'I', DATE'2024-03-01') " +
      "AS s(id, v, last_applied_date)").createOrReplaceTempView("se_src")
    sess.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO lake.default.se t
        |USING se_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = sess.table("lake.default.se").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDate(2).toString)))
    assert(got.toSeq == Seq(
      (1L, "a", None),                    // untouched row null-fills
      (2L, "B", Some("2024-03-01")),
      (9L, "I", Some("2024-03-01"))), got.toSeq)
    // plain MERGE (no evolution clause) never evolves: Spark ignores extra
    // source columns for SET */INSERT *, and the table schema must not
    // silently gain them
    sess.sql(
      """MERGE INTO lake.default.se t USING
        |(SELECT id, v, last_applied_date, 1 AS surprise FROM se_src) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(!sess.table("lake.default.se").columns.contains("surprise"))
    // lossy/retype evolution is rejected loudly, not silently coerced
    sess.sql("SELECT CAST(2 AS BIGINT) AS id, 3.14 AS v")
      .createOrReplaceTempView("se_bad")
    intercept[Exception] {
      sess.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO lake.default.se t
          |USING se_bad s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
  }

  test("CTAS through the catalog, partitioned create via PARTITIONED BY") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.range(1, 101).selectExpr("id", "CAST(id % 4 AS STRING) AS seg")
      .createOrReplaceTempView("hundred")
    sess.sql("CREATE TABLE lake.default.c OPTIONS (primaryKey 'id') " +
      "AS SELECT * FROM hundred")
    assert(sess.table("lake.default.c").count() == 100)

    sess.sql("CREATE TABLE lake.default.p (id BIGINT, seg STRING) " +
      "PARTITIONED BY (seg) OPTIONS (primaryKey 'id')")
    sess.sql("INSERT INTO lake.default.p SELECT * FROM hundred")
    // partition landed in hive layout ⇒ partition-value pruning applies
    val pruned = sess.sql("SELECT * FROM lake.default.p WHERE seg = '1'")
    assert(pruned.count() == 25)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("partitionFilterValues=1"), plan)
  }

  test("ALTER TABLE ADD COLUMN is a metadata-only schema evolution") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.a (id BIGINT, v STRING) " +
      "OPTIONS (primaryKey 'id')")
    sess.sql("INSERT INTO lake.default.a VALUES (1, 'x'), (2, 'y')") // v2
    sess.sql("ALTER TABLE lake.default.a ADD COLUMN extra DOUBLE")   // v3
    val t = CowTable(spark, lake + "/a", TableConfig("a", Seq("id")))
    assert(t.currentVersion == 3)
    // same files, new schema, reorganization-style commit
    assert(t.manifest(3).files == t.manifest(2).files)
    assert(!t.manifest(3).dataChange)
    // old rows null-fill; new writes carry the column
    sess.sql("INSERT INTO lake.default.a VALUES (3, 'z', 2.5)")
    val got = sess.sql(
      "SELECT id, extra FROM lake.default.a ORDER BY id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(got.toSeq == Seq(1L -> None, 2L -> None, 3L -> Some(2.5)), got.toSeq)
    // RENAME/DROP COLUMN are supported via column mapping
    // (ColumnMappingSqlSpec); a retype still fails loudly
    intercept[Exception] {
      sess.sql("ALTER TABLE lake.default.a ALTER COLUMN v TYPE INT")
    }
  }

  test("$history and $files metadata tables read manifests via SQL") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.h (id BIGINT, v STRING) " +
      "OPTIONS (primaryKey 'id')")
    sess.sql("INSERT INTO lake.default.h VALUES (1, 'x'), (2, 'y')")
    sess.sql("INSERT INTO lake.default.h VALUES (3, 'z')")

    val hist = sess.sql(
      "SELECT version, parent, data_change, row_count, file_count " +
        "FROM lake.default.`h$history` ORDER BY version").collect()
    assert(hist.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(hist.map(_.getLong(3)).toSeq == Seq(0L, 2L, 3L))
    assert(hist.head.getInt(4) == 0) // declared-schema empty commit

    val files = sess.sql(
      "SELECT path, rows, bytes FROM lake.default.`h$files`").collect()
    assert(files.map(_.getLong(1)).sum == 3L)
    assert(files.forall(_.getLong(2) > 0L))
    // the metadata read is driver-local: aggregating it still works in SQL
    val total = sess.sql(
      "SELECT SUM(rows) FROM lake.default.`h$files`").head().getLong(0)
    assert(total == 3L)
    // unknown suffix is a missing table, not a crash
    intercept[Exception] {
      sess.table("lake.default.`h$nope`").collect()
    }

    // $partitions on an UNPARTITIONED table: one NULL-valued rollup row
    val parts = sess.sql(
      "SELECT partition_value, file_count, row_count, bytes, avg_file_bytes " +
        "FROM lake.default.`h$partitions`").collect()
    assert(parts.length == 1 && parts.head.isNullAt(0))
    assert(parts.head.getLong(2) == 3L)
    assert(parts.head.getLong(3) > 0L && parts.head.getLong(4) > 0L)

    // $detail: the one-row DESCRIBE DETAIL — identity, size, flags, refs
    val det = sess.sql(
      "SELECT name, version, num_files, num_rows, size_bytes, primary_key, " +
        "change_data_feed, deletion_vectors, num_tags, num_branches " +
        "FROM lake.default.`h$detail`").head()
    assert(det.getString(0) == "h" && det.getInt(1) == 3)
    assert(det.getLong(3) == 3L && det.getLong(4) > 0L)
    assert(det.getString(5) == "id")
    assert(!det.getBoolean(6) && !det.getBoolean(7))
    assert(det.getInt(8) == 0 && det.getInt(9) == 0)
  }

  test("ALTER TABLE SET TBLPROPERTIES adjusts durable behavior in place") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.tp (id BIGINT, v DOUBLE) " +
      "OPTIONS (primaryKey 'id')")
    sess.sql("INSERT INTO lake.default.tp VALUES (1, 1.0), (2, 2.0)")

    // ADD CONSTRAINT (Delta parity): new constraint validates existing
    // data first — a violated one rejects and commits nothing
    intercept[Exception] {
      sess.sql("ALTER TABLE lake.default.tp " +
        "SET TBLPROPERTIES ('checkConstraints' = 'v > 1.5')")
    }
    sess.sql("ALTER TABLE lake.default.tp " +
      "SET TBLPROPERTIES ('checkConstraints' = 'v > 0')")
    // the new constraint binds future connector writes...
    intercept[Exception] {
      sess.sql("INSERT INTO lake.default.tp VALUES (3, -1.0)")
    }
    sess.sql("INSERT INTO lake.default.tp VALUES (3, 3.0)")
    assert(sess.table("lake.default.tp").count() == 3)
    // ...and fresh writers opening the table from its root alone
    val root = java.nio.file.Paths.get(lake).resolve("tp")
    val inherited = CowTable.configAt(root, TableConfig("tp", Seq("id")))
    assert(inherited.checkConstraints == Seq("v > 0"))

    // UNSET lifts it
    sess.sql("ALTER TABLE lake.default.tp " +
      "UNSET TBLPROPERTIES ('checkConstraints')")
    sess.sql("INSERT INTO lake.default.tp VALUES (4, -4.0)")
    assert(sess.table("lake.default.tp").count() == 4)

    // changeDataFeed toggles on mid-life: the NEXT mutation materializes
    sess.sql("ALTER TABLE lake.default.tp " +
      "SET TBLPROPERTIES ('changeDataFeed' = 'true')")
    val t = CowTable(spark, root.toString,
      CowTable.configAt(root, TableConfig("tp", Seq("id"))))
    import spark.implicits._
    t.upsert(Seq((1L, 10.0)).toDF("id", "v"))
    assert(t.manifest(t.currentVersion).cdcDir.isDefined)

    // layout-defining properties stay immutable, loudly
    intercept[Exception] {
      sess.sql("ALTER TABLE lake.default.tp " +
        "SET TBLPROPERTIES ('primaryKey' = 'v')")
    }
  }

  test("CALL clone: zero-copy fork registered and queryable via SQL") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.src (id BIGINT, v STRING) " +
      "OPTIONS (primaryKey 'id')")
    sess.sql("INSERT INTO lake.default.src VALUES (1, 'a'), (2, 'b')")
    val v = sess.sql("CALL lake.clone('src', 'fork')").head().getInt(0)
    assert(v == 1)
    assert(sess.table("lake.default.fork").count() == 2)
    // fork and source diverge independently
    sess.sql("INSERT INTO lake.default.fork VALUES (3, 'c')")
    assert(sess.table("lake.default.fork").count() == 3)
    assert(sess.table("lake.default.src").count() == 2)
    // cloning onto a taken name fails loud
    intercept[Exception] { sess.sql("CALL lake.clone('src', 'fork')") }
  }

  test("CALL evolve_partition: spec change via SQL, registry follows") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.pe (id BIGINT, seg STRING, " +
      "v DOUBLE) OPTIONS (primaryKey 'id')")
    sess.sql("INSERT INTO lake.default.pe VALUES (1, 'A', 1.0)")
    val v = sess.sql("CALL lake.evolve_partition('pe', 'seg')")
      .head().getInt(0)
    assert(v > 1) // CREATE + INSERT versions precede the evolution commit
    // registry now records the new spec, so a catalog write adopts it
    assert(graft.storage.LakeRegistry.entries(lake)
      .find(_.table_name == "pe").get.partition_key.contains("seg"))
    sess.sql("INSERT INTO lake.default.pe VALUES (2, 'B', 2.0)")
    val t = graft.storage.LakeRegistry.open(spark, lake, "pe")
    assert(t.manifest(t.currentVersion).files
      .exists(_.path.contains("seg=B")))
    assert(sess.table("lake.default.pe").count() == 2)
    // back to unpartitioned
    sess.sql("CALL lake.evolve_partition('pe')")
    assert(graft.storage.LakeRegistry.entries(lake)
      .find(_.table_name == "pe").get.partition_key.isEmpty)
  }

  test("CALL create_matview/refresh_matview: incremental MV as a catalog object") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.sales (id BIGINT, region STRING, " +
      "amt DOUBLE) OPTIONS (primaryKey 'id')")
    sess.sql("INSERT INTO lake.default.sales VALUES " +
      "(1, 'eu', 10.0), (2, 'us', 20.0), (3, 'eu', 5.0)")
    sess.sql(
      "CALL lake.create_matview('sales_by_region', 'sales', 'region', 'amt')")
    def snap() = sess.table("lake.default.sales_by_region")
      .select("region", "n_rows", "sum_amt")
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDecimal(2).doubleValue)).toSet
    assert(snap() == Set(("eu", 2L, 15.0), ("us", 1L, 20.0)))
    // base mutates through SQL; refresh applies the delta
    sess.sql("INSERT INTO lake.default.sales VALUES (4, 'us', 7.0)")
    sess.sql("DELETE FROM lake.default.sales WHERE id = 3")
    val applied = sess.sql("CALL lake.refresh_matview('sales_by_region')")
      .head().getInt(0)
    assert(applied == 2)
    assert(snap() == Set(("eu", 1L, 10.0), ("us", 2L, 27.0)))
    // idempotent
    assert(sess.sql("CALL lake.refresh_matview('sales_by_region')")
      .head().getInt(0) == 0)
    // name collision fails loud
    intercept[Exception] {
      sess.sql(
        "CALL lake.create_matview('sales_by_region', 'sales', 'region', 'amt')")
    }
  }

  test("CALL create_matview with min/max + CALL purge_vectors") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.sales (id BIGINT, region STRING, " +
      "amt DOUBLE) OPTIONS (primaryKey 'id')")
    sess.sql("INSERT INTO lake.default.sales VALUES " +
      "(1, 'eu', 10.0), (2, 'us', 20.0), (3, 'eu', 5.0)")
    sess.sql("CALL lake.create_matview('mm', 'sales', 'region', 'amt', " +
      "'amt')")
    def snap() = sess.table("lake.default.mm")
      .select("region", "min_amt", "max_amt")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      .toSet
    assert(snap() == Set(("eu", 5.0, 10.0), ("us", 20.0, 20.0)))
    // retract eu's max through SQL; refresh takes the dirty-rescan path
    sess.sql("DELETE FROM lake.default.sales WHERE id = 1")
    sess.sql("CALL lake.refresh_matview('mm')")
    assert(snap() == Set(("eu", 5.0, 5.0), ("us", 20.0, 20.0)))

    // purge_vectors: SQL handle for retiring DV sidecars
    sess.sql("CREATE TABLE lake.default.dv2 (id BIGINT, v DOUBLE) " +
      "TBLPROPERTIES (primaryKey 'id', changeDataFeed 'true', " +
      "deletionVectors 'true')")
    sess.sql("INSERT INTO lake.default.dv2 " +
      "SELECT id, id * 1.0 FROM range(1, 31)")
    sess.sql("DELETE FROM lake.default.dv2 WHERE id % 5 = 0")
    val t = graft.storage.LakeRegistry.open(spark, lake, "dv2")
    assert(t.manifest(t.currentVersion).files.exists(_.dvPath.isDefined))
    sess.sql("CALL lake.purge_vectors('dv2')").collect()
    assert(t.manifest(t.currentVersion).files.forall(_.dvPath.isEmpty))
    assert(sess.table("lake.default.dv2").count() == 24)
  }

  test("ALTER TABLE RENAME TO swaps the catalog entry, moves no data") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.rn (id BIGINT, v STRING) " +
      "OPTIONS (primaryKey 'id')")
    sess.sql("INSERT INTO lake.default.rn VALUES (1, 'a'), (2, 'b')")
    val rootBefore = java.nio.file.Paths.get(lake).resolve("rn")
    assert(java.nio.file.Files.isDirectory(rootBefore))
    sess.sql("ALTER TABLE lake.default.rn RENAME TO default.rn2")
    // new name resolves to the SAME root (no data moved); old name is gone
    assert(sess.table("lake.default.rn2").count() == 2)
    assert(java.nio.file.Files.isDirectory(rootBefore))
    intercept[Exception] { sess.table("lake.default.rn").collect() }
    // writes keep working under the new name
    sess.sql("INSERT INTO lake.default.rn2 VALUES (3, 'c')")
    assert(sess.table("lake.default.rn2").count() == 3)
    // renaming onto a taken name fails loud
    sess.sql("CREATE TABLE lake.default.other (id BIGINT) " +
      "OPTIONS (primaryKey 'id')")
    intercept[Exception] {
      sess.sql("ALTER TABLE lake.default.rn2 RENAME TO default.other")
    }
  }

  test("$partitions metadata table rolls up per hive partition value") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.pp (id BIGINT, seg STRING) " +
      "USING graft PARTITIONED BY (seg) OPTIONS (primaryKey 'id')")
    sess.sql("INSERT INTO lake.default.pp VALUES " +
      "(1, 'a'), (2, 'a'), (3, 'a'), (4, 'b')")
    val parts = sess.sql(
      "SELECT partition_value, file_count, row_count " +
        "FROM lake.default.`pp$partitions` ORDER BY partition_value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(parts.map(p => p._1 -> p._3).toSeq == Seq("a" -> 3L, "b" -> 1L),
      parts.toSeq)
    assert(parts.forall(_._2 >= 1L))
  }

  test("partition-filtered $files/$partitions route through the pruned " +
      "checkpoint read (results exact vs unfiltered)") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.pf (id BIGINT, seg STRING) " +
      "USING graft PARTITIONED BY (seg) OPTIONS (primaryKey 'id')")
    sess.sql("INSERT INTO lake.default.pf SELECT id, " +
      "concat('s', CAST(id % 6 AS STRING)) FROM range(1, 601)")
    // the INSERT adds every file, so its version is a parquet checkpoint
    // and the pruned read path is live
    graft.storage.CowTable.evictManifestCache()
    val scoped = sess.sql("SELECT path, rows FROM " +
      "lake.default.`pf$files` WHERE partition_value = 's3'").collect()
    assert(scoped.nonEmpty &&
      scoped.forall(_.getString(0).contains("seg=s3/")))
    val all = sess.sql("SELECT path FROM lake.default.`pf$files`")
      .collect().filter(_.getString(0).contains("seg=s3/"))
    assert(scoped.map(_.getString(0)).toSet ==
      all.map(_.getString(0)).toSet, "scoped read must equal filtered full")
    graft.storage.CowTable.evictManifestCache()
    val roll = sess.sql("SELECT partition_value, row_count FROM " +
      "lake.default.`pf$partitions` WHERE partition_value IN ('s1','s4')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(roll == Map("s1" -> 100L, "s4" -> 100L), roll)
  }

  test("$column_stats merges per-file NDV sketches; NULL where evidence " +
      "is missing") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.cs (id BIGINT, g STRING, v BIGINT) " +
      "USING graft TBLPROPERTIES (primaryKey 'id', statsColumns 'g,v', " +
      "ndvSketch 'true')")
    sess.sql("INSERT INTO lake.default.cs SELECT id, concat('g', id % 7), " +
      "id % 200 FROM range(1000)")
    sess.sql("INSERT INTO lake.default.cs SELECT id + 1000, " +
      "concat('g', id % 7), id % 200 + 100 FROM range(1000)")
    val rows = sess.sql("SELECT col_name, ndv, null_count FROM " +
      "lake.default.`cs$column_stats` ORDER BY col_name")
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -1.0 else r.getDouble(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq("g", "v"))
    // g: 7 distinct < k=64 ⇒ the merged sketch is exhaustive-EXACT
    assert(rows(0)._2 == 7.0 && rows(0)._3 == 0L, rows(0).toString)
    // v: 300 distinct > k ⇒ estimator branch, ±20% of truth
    assert(rows(1)._2 > 240 && rows(1)._2 < 360, rows(1).toString)
    // a table WITHOUT sketches reports NULL ndv (never a guess)
    sess.sql("CREATE TABLE lake.default.ns (id BIGINT, g STRING) " +
      "USING graft TBLPROPERTIES (primaryKey 'id', statsColumns 'g')")
    sess.sql("INSERT INTO lake.default.ns VALUES (1, 'x')")
    val ns = sess.sql(
      "SELECT ndv FROM lake.default.`ns$column_stats`").collect()
    assert(ns.length == 1 && ns(0).isNullAt(0))
  }

  test("CALL compute_stats backfills NDV sketches on an existing table; " +
      "later writes maintain them") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    // created WITHOUT ndvSketch: two commits, zero sketches
    sess.sql("CREATE TABLE lake.default.bf (id BIGINT, g STRING) " +
      "USING graft TBLPROPERTIES (primaryKey 'id', statsColumns 'g')")
    sess.sql("INSERT INTO lake.default.bf SELECT id, concat('g', id % 5) " +
      "FROM range(500)")
    sess.sql("INSERT INTO lake.default.bf SELECT id + 500, " +
      "concat('g', id % 5 + 5) FROM range(500)")
    assert(sess.sql("SELECT ndv FROM lake.default.`bf$column_stats`")
      .head().isNullAt(0), "no sketches yet")
    // backfill: one column-pruned pass over the lacking files, no rewrite
    val t = graft.storage.CowTable(spark, lake + "/bf",
      graft.storage.TableConfig("bf", Seq("id")))
    val before = t.manifest(t.currentVersion).files.map(_.path)
    sess.sql("CALL lake.compute_stats('bf')")
    val m = t.manifest(t.currentVersion)
    assert(!m.dataChange && m.files.map(_.path) == before,
      "backfill must be metadata-only")
    assert(m.ndvSketch, "flag must flip durably")
    assert(m.files.forall(_.ndv.contains("g")))
    assert(sess.sql("SELECT ndv FROM lake.default.`bf$column_stats`")
      .head().getDouble(0) == 10.0) // 10 < k: exhaustive-exact
    // a write AFTER the backfill keeps maintaining sketches
    sess.sql("INSERT INTO lake.default.bf VALUES (9999, 'g99')")
    val m2 = t.manifest(t.currentVersion)
    assert(m2.files.forall(_.ndv.contains("g")),
      "post-backfill writes must sketch their fresh files")
    assert(sess.sql("SELECT ndv FROM lake.default.`bf$column_stats`")
      .head().getDouble(0) == 11.0)
    // idempotent: nothing lacking => no new commit
    val vBefore = t.currentVersion
    sess.sql("CALL lake.compute_stats('bf')")
    assert(t.currentVersion == vBefore)
  }

  test("CALL procedures: compact / optimize / vacuum / rollback via SQL") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.p (id BIGINT, v STRING) " +
      "OPTIONS (primaryKey 'id')")
    sess.sql("INSERT INTO lake.default.p VALUES (1, 'a'), (2, 'b')") // v2
    sess.sql("INSERT INTO lake.default.p VALUES (3, 'c')")           // v3
    sess.sql("INSERT INTO lake.default.p VALUES (4, 'd')")           // v4

    // compact folds the small files into one, as a new version
    val v = sess.sql("CALL lake.compact('p')").head().getInt(0)
    assert(v == 5, s"compact returned $v")
    assert(sess.table("lake.default.p").count() == 4)

    // rollback restores the pre-compaction version (metadata-only)
    val rb = sess.sql("CALL lake.rollback('p', 4)").head().getInt(0)
    assert(rb == 6 && sess.table("lake.default.p").count() == 4)

    // z-order by the key; returns the new version
    val zv = sess.sql("CALL lake.optimize('p')").head().getInt(0)
    assert(zv == 7)

    // age-based retention first: a huge window retains every version
    assert(sess.sql("CALL lake.vacuum_age('p', 864000000)")
      .head().getInt(0) == 0)
    assert(sess.table("lake.default.p").count() == 4)

    // integrity fsck via SQL: a healthy table passes all four checks
    val fsck = sess.sql("CALL lake.validate('p')").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(fsck.size == 4 && fsck.values.forall(identity), s"got $fsck")

    // vacuum with a retention window drops unreferenced files
    val deleted = sess.sql("CALL lake.vacuum('p', 1)").head().getInt(0)
    assert(deleted >= 1, s"vacuum deleted $deleted")
    assert(sess.table("lake.default.p").count() == 4)

    intercept[Exception] { sess.sql("CALL lake.no_such_proc('p')") }
  }

  test("column comments: ALTER sets them, data commits preserve them") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.cm (id BIGINT, v DOUBLE) " +
      "OPTIONS (primaryKey 'id')")
    sess.sql("ALTER TABLE lake.default.cm ALTER COLUMN v " +
      "COMMENT 'metric value'")
    sess.sql("ALTER TABLE lake.default.cm ADD COLUMN w INT COMMENT 'weight'")
    def comments() = sess.table("lake.default.cm").schema.fields
      .map(f => f.name -> f.getComment()).toMap
    assert(comments() == Map("id" -> None, "v" -> Some("metric value"),
      "w" -> Some("weight")))
    // a df-derived data commit (INSERT) must not strip the comments
    sess.sql("INSERT INTO lake.default.cm VALUES (1, 2.0, 3)")
    assert(comments()("v").contains("metric value") &&
      comments()("w").contains("weight"))
    // DESCRIBE surfaces them
    val desc = sess.sql("DESCRIBE TABLE lake.default.cm").collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    assert(desc("v") == "metric value" && desc("w") == "weight")
  }

  test("ViewCatalog API: create/load/list/rename/drop + collision fences") {
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.vt (id BIGINT, v DOUBLE) " +
      "OPTIONS (primaryKey 'id')")
    val cat = sess.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[GraftCatalog]
    def info(name: String, sql: String) = new ViewInfo(
      Identifier.of(Array("default"), name), sql, "lake", Array("default"),
      new org.apache.spark.sql.types.StructType().add("id", "long"),
      Array("id"), Array.empty, Array.empty,
      java.util.Collections.emptyMap())
    cat.createView(info("pos", "SELECT id FROM lake.default.vt WHERE v > 0"))
    // load returns the stored definition; a second create is loud
    val v = cat.loadView(Identifier.of(Array("default"), "pos"))
    assert(v.query().contains("WHERE v > 0") && v.name() == "pos")
    intercept[Exception](cat.createView(info("pos", "SELECT 1 AS id")))
    // a view may not shadow a table, nor a table a view
    intercept[Exception](cat.createView(info("vt", "SELECT 1 AS id")))
    intercept[Exception](sess.sql(
      "CREATE TABLE lake.default.pos (id BIGINT) OPTIONS (primaryKey 'id')"))
    // list / rename / drop round-trip, persisted on disk
    assert(cat.listViews("default").map(_.name()).toSeq == Seq("pos"))
    cat.renameView(Identifier.of(Array("default"), "pos"),
      Identifier.of(Array("default"), "pos2"))
    assert(GraftViews.read(lake, "pos2").isDefined &&
      GraftViews.read(lake, "pos").isEmpty)
    assert(cat.dropView(Identifier.of(Array("default"), "pos2")))
    assert(cat.listViews("default").isEmpty)
  }

  test("ALTER VIEW SET/UNSET TBLPROPERTIES persists through the catalog") {
    import org.apache.spark.sql.connector.catalog.{Identifier, ViewChange, ViewInfo}
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("SHOW TABLES IN lake.default") // force catalog plugin load
    val cat = sess.sessionState.catalogManager.catalog("lake")
      .asInstanceOf[GraftCatalog]
    cat.createView(new ViewInfo(
      Identifier.of(Array("default"), "av"), "SELECT 1 AS id", "lake",
      Array("default"),
      new org.apache.spark.sql.types.StructType().add("id", "int"),
      Array("id"), Array.empty, Array.empty,
      java.util.Collections.emptyMap()))
    val id = Identifier.of(Array("default"), "av")
    val v1 = cat.alterView(id,
      ViewChange.setProperty("owner", "graft"),
      ViewChange.setProperty("note", "tmp"))
    assert(v1.properties().get("owner") == "graft")
    // persisted on disk, not just the returned handle
    assert(GraftViews.read(lake, "av").get.properties ==
      Map("owner" -> "graft", "note" -> "tmp"))
    val v2 = cat.alterView(id, ViewChange.removeProperty("note"))
    assert(!v2.properties().containsKey("note"))
    assert(GraftViews.read(lake, "av").get.properties ==
      Map("owner" -> "graft"))
    // the definition itself is untouched
    assert(cat.loadView(id).query() == "SELECT 1 AS id")
    // unknown view stays loud
    intercept[Exception](cat.alterView(
      Identifier.of(Array("default"), "nope"),
      ViewChange.setProperty("a", "b")))
  }

  test("CALL diff: snapshot reconciliation rows via SQL") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    sess.sql("CREATE TABLE lake.default.dt (id BIGINT, v STRING) " +
      "OPTIONS (primaryKey 'id')")
    sess.sql("INSERT INTO lake.default.dt VALUES (1, 'a'), (2, 'b')") // v2
    sess.sql("UPDATE lake.default.dt SET v = 'B' WHERE id = 2")       // v3
    sess.sql("INSERT INTO lake.default.dt VALUES (3, 'c')")           // v4
    sess.sql("DELETE FROM lake.default.dt WHERE id = 1")              // v5
    val d = sess.sql("CALL lake.diff('dt', 2, 5)")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d == Map("1" -> "removed", "2" -> "changed", "3" -> "added"), d)
    assert(sess.sql("CALL lake.diff('dt', 2, 2)").count() == 0)
  }

  test("partition-scoped compaction folds only the named partition") {
    import spark.implicits._
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    val t = CowTable(spark, lake + "/pt",
      TableConfig("pt", Seq("id"), partitionKey = Some("seg")))
    t.create(Seq((1L, "A"), (2L, "B")).toDF("id", "seg"))
    t.upsert(Seq((3L, "A"), (4L, "B")).toDF("id", "seg"))
    t.upsert(Seq((5L, "A"), (6L, "B")).toDF("id", "seg"))
    graft.storage.LakeRegistry.register(lake,
      TableConfig("pt", Seq("id"), partitionKey = Some("seg")), lake + "/pt")
    val before = t.manifest(t.currentVersion).files
    val bBefore = before.filter(_.path.contains("seg=B")).map(_.path).toSet
    assert(before.count(_.path.contains("seg=A")) == 3)

    val v = sess.sql("CALL lake.compact('pt', partition_value => 'A')")
      .head().getInt(0)
    val after = CowTable(spark, lake + "/pt",
      TableConfig("pt", Seq("id"), partitionKey = Some("seg")))
      .manifest(v).files
    // seg=A folded to one file; every seg=B file carried untouched
    assert(after.count(_.path.contains("seg=A")) == 1, after.map(_.path))
    assert(after.filter(_.path.contains("seg=B")).map(_.path).toSet ==
      bBefore)
    assert(sess.table("lake.default.pt").count() == 6)
  }

  test("unknown table / namespace / version fail loudly") {
    val lake = tmpDir("cat")
    val sess = lakeSession(lake)
    intercept[Exception] { sess.table("lake.default.nope").collect() }
    intercept[Exception] { sess.sql("SHOW TABLES IN lake.other").collect() }
    sess.sql("CREATE TABLE lake.default.e (id BIGINT) OPTIONS (primaryKey 'id')")
    val err = intercept[Exception] {
      sess.sql("SELECT * FROM lake.default.e VERSION AS OF 99").collect()
    }
    assert(err.getMessage.contains("out of range"), err.getMessage)
  }
}
