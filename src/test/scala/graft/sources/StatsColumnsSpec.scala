package graft.sources

import graft.SparkSpec
import graft.storage.{CowTable, TableConfig}
import org.apache.spark.sql.functions._

class StatsColumnsSpec extends SparkSpec {
  import spark.implicits._

  /** 4 files with disjoint ts ranges (range-shaped input survives the
    * unpartitioned, unclustered writer as-is). */
  private def mkTable(dir: String): CowTable = {
    val cfg = TableConfig("ev", Seq("id"), statsColumns = Seq("ts", "kind"))
    val t = CowTable(spark, dir + "/t", cfg)
    val df = (0L until 400L).map { i =>
      (i, java.sql.Timestamp.valueOf(f"2024-01-${i / 100 + 1}%02d 00:00:00"),
        s"k${i / 100}")
    }.toDF("id", "ts", "kind")
    t.create(df.repartitionByRange(4, $"ts"))
    t
  }

  test("manifest carries extra min/max for statsColumns") {
    val dir = tmpDir("stats")
    val t = mkTable(dir)
    val m = t.manifest(t.currentVersion)
    assert(m.files.size == 4)
    m.files.foreach { e =>
      assert(e.extra.contains("ts") && e.extra.contains("kind"), e)
      assert(e.extra("ts").mn.isDefined && e.extra("ts").mx.isDefined)
    }
  }

  test("timestamp range filter skips files at the manifest level") {
    val dir = tmpDir("stats")
    mkTable(dir)
    val scan = spark.read.format("graft").load(dir + "/t")
      .filter($"ts" >= "2024-01-03 00:00:00" && $"ts" < "2024-01-04 00:00:00")
    assert(scan.count() == 100L)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("statsColFilters=2"), plan)
    // day-3's file only: day-4's min sits exactly on the strict `<`
    // bound, which stays strict — no day-4 row can match
    assert(plan.contains("files=1/4"), plan)
  }

  test("string column equality skips via UTF8 footer stats") {
    val dir = tmpDir("stats")
    mkTable(dir)
    val scan = spark.read.format("graft").load(dir + "/t")
      .filter($"kind" === "k2")
    assert(scan.count() == 100L)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("files=1/4"), plan)
  }

  test("columns without stats never skip (conservative)") {
    val dir = tmpDir("stats")
    // same data, NO statsColumns: the ts filter reads all files but stays
    // exact
    val t = CowTable(spark, dir + "/t", TableConfig("ev", Seq("id")))
    val df = (0L until 400L).map { i =>
      (i, java.sql.Timestamp.valueOf(f"2024-01-${i / 100 + 1}%02d 00:00:00"),
        s"k${i / 100}")
    }.toDF("id", "ts", "kind")
    t.create(df.repartitionByRange(4, $"ts"))
    val scan = spark.read.format("graft").load(dir + "/t")
      .filter($"ts" >= "2024-01-03 00:00:00" && $"ts" < "2024-01-04 00:00:00")
    assert(scan.count() == 100L)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("files=4/4"), plan)
  }

  test("cross-session: a stale writer keeps collecting stats for a column " +
    "another session declared after it opened the table") {
    val dir = tmpDir("stats")
    // session A opens the table with NO statsColumns in its config
    // (stats column is BIGINT — double footer stats are deliberately
    // unusable: NaN/Infinity make parquet double min/max untrustworthy)
    val a = CowTable(spark, dir + "/t", TableConfig("ev", Seq("id")))
    a.create(Seq((1L, 10L)).toDF("id", "v"))
    // session B declares statsColumns durably (SQL TBLPROPERTIES path uses
    // the same commitAt override; here the API-level equivalent)
    val b = CowTable(spark, dir + "/t",
      TableConfig("ev", Seq("id"), statsColumns = Seq("v")))
    b.upsert(Seq((2L, 20L)).toDF("id", "v"))
    assert(b.manifest(b.currentVersion).statsColumns == Seq("v"))
    // A's next write (config still statsColumns-free) must keep the durable
    // declaration AND stat its fresh files on v
    a.upsert(Seq((3L, 30L)).toDF("id", "v"))
    val m = a.manifest(a.currentVersion)
    assert(m.statsColumns == Seq("v"), m.statsColumns)
    val fresh = m.files.find(_.minKey.contains("3"))
    assert(fresh.exists(_.extra.contains("v")), m.files)
  }

  test("UNSET TBLPROPERTIES('statsColumns') durably stops stats collection") {
    val lake = tmpDir("stats")
    val sess = spark.newSession()
    sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
    sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
    sess.sql("CREATE TABLE lake.default.sv (id BIGINT, v DOUBLE) " +
      "OPTIONS (primaryKey 'id', statsColumns 'v')")
    sess.sql("INSERT INTO lake.default.sv VALUES (1, 1.0)")
    val t = CowTable(spark, lake + "/sv", TableConfig("sv", Seq("id")))
    assert(t.manifest(t.currentVersion).statsColumns == Seq("v"))
    sess.sql("ALTER TABLE lake.default.sv UNSET TBLPROPERTIES ('statsColumns')")
    assert(t.manifest(t.currentVersion).statsColumns.isEmpty)
    // the removal survives subsequent writes (no silent re-inherit from a
    // parent manifest) and new files stop carrying v stats
    sess.sql("INSERT INTO lake.default.sv VALUES (2, 2.0)")
    val m = t.manifest(t.currentVersion)
    assert(m.statsColumns.isEmpty, m.statsColumns)
    assert(m.files.filter(_.rows == 1L).exists(e => !e.extra.contains("v")))
  }
}
