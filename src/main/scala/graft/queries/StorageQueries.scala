package graft.queries

import graft.core.{Q, Tables}
import graft.operators.CdcDedup
import graft.pipeline.CdcPipeline
import graft.storage.{CowTable, TableConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layer + CDC-pipeline coverage (SURVEY.md §2.1 #4-#7, §2.3
  * #18-#21, §7.1 modules 2-6): COW table create/roundtrip, time travel, and
  * the end-to-end bookmark→dedup→merge pipeline, each checked against a DuckDB
  * oracle that replays the identical semantics in SQL.
  *
  * Tables are written under GRAFT_TABLE_DIR (default target/graft-tables,
  * resolved against the working directory) —
  * each query rebuilds its table from scratch so results are deterministic
  * for any run order.
  */
object StorageQueries {
  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.table(s, d, n)

  def tableDir(name: String): String =
    sys.env.getOrElse("GRAFT_TABLE_DIR",
      java.nio.file.Paths.get("target", "graft-tables").toAbsolutePath
        .toString) + "/" + name

  /** The synthetic CDC envelope used by q27/q46: events after the cutoff
    * become the change log (DMS-shaped: Op + timestamp + full row image,
    * reference demo_data/cdc-load schema per SURVEY.md §1.1). */
  private val cutoff = "2024-01-15 00:00:00"
  private[queries] val auditTs = "2024-06-01 00:00:00"

  private[queries] def initialSnapshot(s: SparkSession, d: String): DataFrame =
    CdcDedup.latestPerKeyStrict(
      t(s, d, "events").filter(col("ts") < lit(cutoff).cast("timestamp")),
      Seq("user_id"), "ts", Seq("event_id"))
      .select("user_id", "event_id", "event_type", "value")

  private[queries] def cdcBatch(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").filter(col("ts") >= lit(cutoff).cast("timestamp"))
      .select(
        when(col("event_type") === "error", "D")
          .when(col("event_type") === "signup", "I")
          .otherwise("U").as("Op"),
        col("ts").as("timestamp"),
        col("user_id"), col("event_id"), col("event_type"), col("value"))

  /** q75 and q80 exercise the SAME one-row-per-file CDC fixture (identical
    * filter, config, and history — only the read differs). The build stats
    * hundreds of per-row parquet footers, so it is the pack's dominant
    * fixture cost; it is deterministic, so one build per (sfDir, JVM)
    * serves both queries and every bench repeat — reuse ≡ rebuild. A fresh
    * JVM over a stale dir rebuilds via CowTable.replace (re-runnability). */
  private val feedFixtureBuilt = java.util.concurrent.ConcurrentHashMap
    .newKeySet[String]()
  private def feedFixtureCfg = TableConfig("user_state", Seq("user_id"),
    precombineKey = Some("event_id"), maxRecordsPerFile = 1L)
  private[queries] def feedFixture(s: SparkSession, d: String): CowTable =
    feedFixtureBuilt.synchronized { // one builder; a peer waits, then reuses
      feedFixtureUnsafe(s, d)
    }
  private def feedFixtureUnsafe(s: SparkSession, d: String): CowTable = {
    val base = tableDir("q75q80_feed")
    val key = s"$d|$base"
    if (feedFixtureBuilt.add(key)) {
      try {
        val tbl = CowTable.replace(s, base, feedFixtureCfg,
          initialSnapshot(s, d)
            .filter(col("user_id") % 5 === 0 && col("user_id") < 500))
        CdcPipeline.applyBatch(tbl,
          cdcBatch(s, d).filter(col("user_id") % 5 === 0 && col("user_id") < 500),
          auditTs = lit(auditTs).cast("timestamp"))
        tbl
      } catch { // failed build must not poison the memo: retry rebuilds
        case e: Throwable => feedFixtureBuilt.remove(key); throw e
      }
    } else CowTable(s, base, feedFixtureCfg)
  }

  /** Shared CDC envelope replay (events → DMS ops → strict dedup): ONE
    * source for every oracle that models the synthetic batch, so op mapping
    * and tie-break order can never silently drift between q27/q46/q75. */
  private[queries] def evCdcDedupCte(evFilter: String = ""): String =
    s"""ev AS (SELECT user_id, event_id, event_type, value,
       |  CAST(ts AS TIMESTAMP) AS ts FROM events$evFilter),
       |cdc AS (
       |  SELECT CASE WHEN event_type = 'error' THEN 'D'
       |              WHEN event_type = 'signup' THEN 'I'
       |              ELSE 'U' END AS op,
       |         ts AS ets,
       |         user_id, event_id, event_type, value
       |  FROM ev WHERE ts >= TIMESTAMP '$cutoff'),
       |dedup AS (
       |  SELECT * FROM (
       |    SELECT cdc.*, row_number() OVER (PARTITION BY user_id
       |      ORDER BY ets DESC, event_id DESC) AS rn FROM cdc) x
       |  WHERE rn = 1)""".stripMargin

  /** DuckDB replay of the full CDC pipeline semantics — shared by q27
    * (batch) and q46 (streaming), which must converge to the same state. */
  private[queries] val cdcOracleSql: String =
    s"""WITH ${evCdcDedupCte()},
       |pre AS (
       |  SELECT user_id, event_id, event_type, value,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM ev WHERE ts < TIMESTAMP '$cutoff'),
       |init AS (SELECT user_id, event_id, event_type, value FROM pre WHERE rn = 1),
       |ups AS (SELECT * FROM dedup WHERE op <> 'D'),
       |merged AS (
       |  SELECT
       |    CASE WHEN s.user_id IS NOT NULL THEN s.user_id ELSE t.user_id END AS user_id,
       |    CASE WHEN s.user_id IS NOT NULL THEN s.event_id ELSE t.event_id END AS event_id,
       |    CASE WHEN s.user_id IS NOT NULL THEN s.event_type ELSE t.event_type END AS event_type,
       |    CASE WHEN s.user_id IS NOT NULL THEN s.value ELSE t.value END AS value,
       |    s.ets AS "timestamp",
       |    CASE WHEN s.user_id IS NOT NULL
       |         THEN TIMESTAMP '$auditTs' END AS last_applied_date
       |  FROM init t FULL OUTER JOIN ups s ON t.user_id = s.user_id)
       |SELECT m.* FROM merged m
       |WHERE NOT EXISTS (SELECT 1 FROM dedup x
       |  WHERE x.op = 'D' AND x.user_id = m.user_id)
       |""".stripMargin

  val all: Seq[Q] = Seq(

    // §2.1 #4 bulk-insert COW create (hive-style partitionBy) + re-read:
    // write customer as a partitioned v1 snapshot, read it back through the
    // manifest — must round-trip exactly (reference:
    // src/hudi/hudi-initial-load.py:69-104, hive_style_partitioning :75).
    Q("q25_cow_roundtrip",
      "SELECT * FROM customer") { (s, d) =>
      CowTable.replace(s, tableDir("q25"),
        TableConfig("customer", Seq("c_custkey"),
          partitionKey = Some("c_mktsegment")),
        t(s, d, "customer")).read()
    },

    // Time travel: v1 = full customer snapshot, v2 = merged balances; reading
    // v1 AFTER v2 committed must return the pre-merge state (the
    // transactional-format capability the reference gets from Hudi/Iceberg/
    // Delta COW versioning, SURVEY.md §7.1 module 2).
    Q("q26_time_travel",
      "SELECT * FROM customer") { (s, d) =>
      val c = t(s, d, "customer")
      val tbl = CowTable.replace(s, tableDir("q26"),
        TableConfig("customer", Seq("c_custkey")), c)
      tbl.upsert(
        c.filter(col("c_custkey") % 7 === 0)
          .withColumn("c_acctbal", round(col("c_acctbal") + 42, 2)))
      tbl.readVersion(1)
    },

    // DSv2 connector scan: orders materialized as a range-clustered CowTable,
    // read back through spark.read.format("graft") with a key-range filter
    // (pushed into manifest-level file pruning; plan-asserted in
    // GraftDataSourceSpec) and a projection (pushed into the parquet reader).
    // Exercises long/string/double/timestamp columns through the Group-based
    // partition reader end-to-end against the raw-parquet oracle.
    Q("q82_dsv2_scan",
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(o_totalprice AS DOUBLE) AS o_totalprice,
        |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
        |FROM orders WHERE o_orderkey <= 500
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q82")
      CowTable.replace(s, root,
        TableConfig("orders", Seq("o_orderkey"), clusterByKey = true),
        t(s, d, "orders").select("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate").repartition(4))
      s.read.format("graft").load(root)
        .filter(col("o_orderkey") <= 500)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate")
    },

    // DSv2 COLUMNAR bulk scan: the q03-shaped aggregate with lineitem read
    // back THROUGH the connector (vectorized ColumnarBatch path — the same
    // decode machinery spark.read.parquet uses; plan-asserted columnar in
    // GraftDataSourceSpec). Benchmarks the connector as a bulk-analytics
    // surface, not just a point-lookup/CDC one: q85/q86 made the connector
    // the SQL user's whole world, so the full-scan cost through it must track
    // CowTable.read() (reference reads back via the format,
    // src/iceberg/iceberg-cdc-load.py:85-93).
    Q("q88_dsv2_bulk_agg",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q88")
      CowTable.replace(s, root,
        TableConfig("lineitem_c", Seq("l_orderkey")),
        t(s, d, "lineitem").select("l_orderkey", "l_returnflag",
          "l_linestatus", "l_quantity", "l_extendedprice"))
      s.read.format("graft").load(root)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_base"),
          count(lit(1)).as("count_order"))
    },

    // DSv2 partition-value pruning: customer partitioned hive-style on
    // c_mktsegment (the reference's `category` partition key shape,
    // /root/reference/cdk.json:71); a partition-column equality through the
    // connector skips every other partition's files AT PLANNING TIME from
    // the manifest paths alone (plan-asserted in GraftDataSourceSpec) and
    // the result equals the plain filtered scan.
    Q("q87_dsv2_partition_prune",
      """SELECT c_custkey, c_name, c_mktsegment,
        |  CAST(c_acctbal AS DOUBLE) AS c_acctbal
        |FROM customer WHERE c_mktsegment = 'BUILDING'
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q87")
      CowTable.replace(s, root,
        TableConfig("customer_p", Seq("c_custkey"),
          partitionKey = Some("c_mktsegment")),
        t(s, d, "customer").select("c_custkey", "c_name", "c_mktsegment",
          "c_acctbal"))
      s.read.format("graft").load(root)
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    },

    // SQL MERGE INTO (group-based row-level operation through the DSv2
    // connector): the q27 CDC pipeline driven by TWO spark.sql MERGE
    // statements — upserts (UPDATE SET / INSERT) then deletes (WHEN MATCHED
    // DELETE) — exactly the reference's CDC apply step
    // (src/iceberg/iceberg-cdc-load.py:130-150,
    // src/delta/delta-cdc-load.py:121-141). Must converge to the SAME state
    // as the Scala-API pipeline: the oracle is q27's oracle verbatim.
    Q("q85_merge_sql", cdcOracleSql) { (s, d) =>
      val root = tableDir("q85")
      CowTable.replace(s, root,
        TableConfig("user_state", Seq("user_id"), clusterByKey = true),
        initialSnapshot(s, d)
          .withColumn("timestamp", lit(null).cast("timestamp"))
          .withColumn("last_applied_date", lit(null).cast("timestamp")))
      CdcDedup.latestPerKeyStrict(
        cdcBatch(s, d), Seq("user_id"), "timestamp", Seq("event_id"))
        .createOrReplaceTempView("q85_batch")
      s.sql("DROP TABLE IF EXISTS q85_state")
      s.sql(s"CREATE TABLE q85_state USING graft LOCATION '$root'")
      s.sql(
        s"""MERGE INTO q85_state t
           |USING (SELECT * FROM q85_batch WHERE Op <> 'D') s
           |ON t.user_id = s.user_id
           |WHEN MATCHED THEN UPDATE SET
           |  t.user_id = s.user_id, t.event_id = s.event_id,
           |  t.event_type = s.event_type, t.value = s.value,
           |  t.`timestamp` = s.`timestamp`,
           |  t.last_applied_date = TIMESTAMP '$auditTs'
           |WHEN NOT MATCHED THEN INSERT
           |  (user_id, event_id, event_type, value, `timestamp`,
           |   last_applied_date)
           |  VALUES (s.user_id, s.event_id, s.event_type, s.value,
           |    s.`timestamp`, TIMESTAMP '$auditTs')
           |""".stripMargin)
      s.sql(
        """MERGE INTO q85_state t
          |USING (SELECT * FROM q85_batch WHERE Op = 'D') s
          |ON t.user_id = s.user_id
          |WHEN MATCHED THEN DELETE
          |""".stripMargin)
      s.sql("DROP TABLE IF EXISTS q85_state")
      CowTable(s, root, TableConfig("user_state", Seq("user_id"))).read()
    },

    // SQL MERGE full-table SYNCHRONIZATION — the three-clause form with
    // `WHEN NOT MATCHED BY SOURCE THEN DELETE`: re-land a full snapshot and
    // converge the table to it in ONE statement (stale rows updated, new
    // rows inserted, vanished rows deleted). This is the reference's
    // initial-load REFRESH cycle (re-run the full load over an existing
    // table) expressed as the SQL2023 merge the CDC apply already uses
    // (src/delta/delta-cdc-load.py:121-141) — and the one shape that
    // needs target-driven matching: rows seen by NO source row act too,
    // so the scan cannot prune to source-matched files. Oracle = the
    // snapshot itself (full sync ⇒ table ≡ source).
    Q("q172_merge_full_sync",
      """SELECT c_custkey, c_name, c_mktsegment,
        |  CAST(c_acctbal AS DOUBLE) AS c_acctbal
        |FROM customer WHERE c_custkey % 7 <> 0
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q172")
      val cust = t(s, d, "customer")
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
      // stale state: %3==0 rows missing, %5==0 rows carry drifted balances
      CowTable.replace(s, root,
        TableConfig("cust_sync", Seq("c_custkey"), clusterByKey = true),
        cust.filter(col("c_custkey") % 3 =!= 0)
          .withColumn("c_acctbal",
            when(col("c_custkey") % 5 === 0, col("c_acctbal") + 10)
              .otherwise(col("c_acctbal"))))
      cust.filter(col("c_custkey") % 7 =!= 0)
        .createOrReplaceTempView("q172_snap")
      s.sql("DROP TABLE IF EXISTS q172_state")
      s.sql(s"CREATE TABLE q172_state USING graft LOCATION '$root'")
      s.sql(
        """MERGE INTO q172_state t
          |USING q172_snap s ON t.c_custkey = s.c_custkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE THEN DELETE
          |""".stripMargin)
      s.sql("DROP TABLE IF EXISTS q172_state")
      CowTable(s, root, TableConfig("cust_sync", Seq("c_custkey"))).read()
    },

    // TAGS (Iceberg refs): pin v1 as an immutable named release, mutate,
    // VACUUM with retainLast=1 — the tag PINS the release through the
    // retention pass (the low-water mark stops at the lowest tag), and
    // `VERSION AS OF 'corpus-release-1'` still resolves the exact pinned
    // snapshot. The release-reproducibility primitive a training-data lake
    // needs: "the corpus we trained on" stays addressable forever. Oracle
    // = the pre-mutation table.
    Q("q174_tag_release",
      "SELECT * FROM customer") { (s, d) =>
      val root = tableDir("q174")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val c = t(s, d, "customer")
      val tbl = CowTable(s, root, TableConfig("customer", Seq("c_custkey")))
      tbl.create(c)
      tbl.tag("corpus-release-1")
      tbl.upsert(c.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 42, 2)))
      tbl.overwrite(c.filter(col("c_custkey") % 2 === 0))
      tbl.vacuum(retainLast = 1)
      require(tbl.earliestReadableVersion == 1,
        "vacuum must not expire the tagged release")
      tbl.readTag("corpus-release-1")
    },

    // ATOMIC MULTI-TABLE RELEASE (cross-table publish over tags): pin
    // customer@v1 + orders@v1 as one release in a single atomic manifest
    // link, churn BOTH tables afterwards (delete + segment rewrite), and
    // read the release-time JOIN through the release — the post-publish
    // mutations must be invisible on every member at once ("the exact
    // multi-table corpus we trained on", not per-table pins that could
    // straddle a publish). Oracle = the pre-mutation join.
    Q("q187_atomic_release",
      """SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderkey % 4 = 0
        |""".stripMargin) { (s, d) =>
      import graft.storage.{LakeRegistry, Release}
      val lake = tableDir("q187")
      CowTable.deleteRecursively(java.nio.file.Paths.get(lake))
      val cust = CowTable(s, lake + "/customer_rel",
        TableConfig("customer_rel", Seq("c_custkey")))
      cust.create(t(s, d, "customer")
        .select("c_custkey", "c_name", "c_mktsegment"))
      val ord = CowTable(s, lake + "/orders_rel",
        TableConfig("orders_rel", Seq("o_orderkey")))
      ord.create(t(s, d, "orders")
        .filter(col("o_orderkey") % 4 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice"))
      LakeRegistry.register(lake, cust.config, "customer_rel")
      LakeRegistry.register(lake, ord.config, "orders_rel")
      Release.create(s, lake, "corpus-v1",
        Seq("customer_rel", "orders_rel"))
      // post-publish churn on BOTH members
      ord.delete(ord.read().filter(col("o_orderkey") % 8 === 0)
        .select("o_orderkey"))
      cust.upsert(cust.read().filter(col("c_custkey") % 3 === 0)
        .withColumn("c_mktsegment", lit("CHURNED")))
      val snap = Release.open(s, lake, "corpus-v1")
      snap("orders_rel")
        .join(snap("customer_rel"),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_custkey", "c_mktsegment")
    },

    // SYMLINK FORMAT MANIFEST (Delta GENERATE / the reference's Redshift
    // Spectrum path, cdk_stacks/glue_stack.py:262-279): after an upsert,
    // regenerate the per-partition manifest text files and read the table
    // back THE WAY AN EXTERNAL ENGINE WOULD — only the file URIs listed in
    // the manifests, basePath-attached partition values, no graft metadata
    // involved. Must equal the transactional snapshot exactly (stale or
    // replaced files never listed). Oracle replays the merged state.
    Q("q176_symlink_manifest",
      """SELECT c_custkey, c_name, c_mktsegment,
        |  CAST(CASE WHEN c_custkey % 5 = 0 THEN round(c_acctbal + 7, 2)
        |       ELSE c_acctbal END AS DOUBLE) AS c_acctbal
        |FROM customer
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q176")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val c = t(s, d, "customer")
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
      val tbl = CowTable(s, root,
        TableConfig("cust_sym", Seq("c_custkey"),
          partitionKey = Some("c_mktsegment")))
      tbl.create(c)
      tbl.upsert(c.filter(col("c_custkey") % 5 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 7, 2)))
      val manifests = tbl.generateSymlinkManifest()
      require(manifests.nonEmpty, "expected per-partition manifests")
      // the external-engine read: URIs from the manifest text files only
      val uris = manifests.flatMap { rel =>
        java.nio.file.Files.readString(
          java.nio.file.Paths.get(root).resolve(rel))
          .split('\n').toSeq.filter(_.nonEmpty)
      }
      s.read.option("basePath", root).parquet(uris: _*)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    },

    // HIDDEN PARTITIONING (Iceberg partition transforms / Delta generated
    // partition columns): the events log day-partitioned via `day(ts)` — a
    // GENERATED date column the commit funnel derives (writers can never
    // drift it), laid out hive-style, and PRUNED from predicates on the
    // SOURCE timestamp itself: the connector scan maps `ts >= X` to
    // `ts_day >= day(X)` and skips every other day's files at planning
    // time (require-asserted below; at 100 TB this is the difference
    // between scanning a week and scanning years). Oracle recomputes the
    // generated column as CAST(ts AS DATE) — same pure function.
    Q("q173_hidden_partitioning",
      """SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts,
        |  CAST(ts AS DATE) AS ts_day
        |FROM events WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-24 00:00:00'
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q173")
      CowTable.replaceIfChanged(s, root,
        TableConfig("events_hp", Seq("event_id"),
          partitionSpec = Some("day(ts)")),
        contentSig = d,
        t(s, d, "events")
          .select("event_id", "user_id", "event_type", "value", "ts"))
      val scan = s.read.format("graft").load(root)
        .filter(col("ts") >= lit("2024-01-24 00:00:00").cast("timestamp"))
      val plan = scan.queryExecution.executedPlan.toString
      val m = """files=(\d+)/(\d+)""".r.findFirstMatchIn(plan)
        .getOrElse(throw new IllegalStateException(
          s"no manifest scan in plan:\n$plan"))
      require(m.group(1).toInt < m.group(2).toInt,
        s"hidden partitioning must prune day files, got files=${m.group(0)}")
      scan.select("event_id", "user_id", "event_type", "value", "ts",
        "ts_day")
    },

    // SQL MERGE with the reference's LITERAL shorthand: `UPDATE SET *` /
    // `INSERT *` over the envelope-dropped, audit-stamped source (exactly
    // /root/reference/src/iceberg/iceberg-cdc-load.py:125-134 — Op dropped,
    // star-assignments aligned BY NAME), then the delete MERGE
    // (:143-150). Must converge to the same state as q27/q85: oracle is
    // q27's verbatim.
    Q("q89_merge_sql_star", cdcOracleSql) { (s, d) =>
      val root = tableDir("q89")
      CowTable.replace(s, root,
        TableConfig("user_state", Seq("user_id"), clusterByKey = true),
        initialSnapshot(s, d)
          .withColumn("timestamp", lit(null).cast("timestamp"))
          .withColumn("last_applied_date", lit(null).cast("timestamp")))
      val batch = CdcDedup.latestPerKeyStrict(
        cdcBatch(s, d), Seq("user_id"), "timestamp", Seq("event_id"))
      batch.filter(col("Op") =!= "D").drop("Op")
        .withColumn("last_applied_date", lit(auditTs).cast("timestamp"))
        .createOrReplaceTempView("q89_upsert")
      batch.filter(col("Op") === "D").createOrReplaceTempView("q89_delete")
      s.sql("DROP TABLE IF EXISTS q89_state")
      s.sql(s"CREATE TABLE q89_state USING graft LOCATION '$root'")
      s.sql(
        """MERGE INTO q89_state t
          |USING q89_upsert s ON s.user_id = t.user_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |""".stripMargin)
      s.sql(
        """MERGE INTO q89_state t
          |USING q89_delete s ON s.user_id = t.user_id
          |WHEN MATCHED THEN DELETE
          |""".stripMargin)
      s.sql("DROP TABLE IF EXISTS q89_state")
      CowTable(s, root, TableConfig("user_state", Seq("user_id"))).read()
    },

    // DSv2 WRITE path: half of orders lands via the Scala API (v1), the
    // other half is appended by a SQL INSERT INTO through the connector
    // (executor-written parquet, footer-stat'd, hard-link-CAS commit) —
    // the reference's writer surface (src/delta/delta-initial-load.py:61-78)
    // reached from pure SQL. Read back through the connector: the final
    // state must equal one plain filtered scan of the source.
    Q("q86_dsv2_write",
      """SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CAST(o_totalprice AS DOUBLE) AS o_totalprice,
        |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
        |FROM orders WHERE o_orderkey <= 600
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q86")
      val src = t(s, d, "orders").select("o_orderkey", "o_custkey",
        "o_orderstatus", "o_totalprice", "o_orderdate")
      CowTable.replace(s, root,
        TableConfig("orders_w", Seq("o_orderkey"), clusterByKey = true),
        src.filter(col("o_orderkey") <= 300))
      s.sql("DROP TABLE IF EXISTS q86_orders")
      s.sql(s"CREATE TABLE q86_orders USING graft LOCATION '$root'")
      src.filter(col("o_orderkey") > 300 && col("o_orderkey") <= 600)
        .createOrReplaceTempView("q86_src")
      s.sql("INSERT INTO q86_orders SELECT * FROM q86_src")
      s.sql("DROP TABLE IF EXISTS q86_orders") // data outlives the catalog row
      s.read.format("graft").load(root)
    },

    // STREAMING SINK: readStream → filter → writeStream.format("graft"),
    // drained with AvailableNow — each micro-batch epoch commits one table
    // version through the CAS, exactly-once via the manifest (queryId,
    // epochId) marker (the native-sink completion of the reference's
    // hourly micro-batch load; replay/restart asserted in GraftWriteSpec).
    // Final table state must equal the plain filtered batch scan.
    Q("q90_stream_sink",
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |  event_type, value
        |FROM events WHERE event_type <> 'error'
        |""".stripMargin) { (s, d) =>
      val base = tableDir("q90")
      CowTable.deleteRecursively(java.nio.file.Paths.get(base))
      val src = base + "/src"
      val srcDf = t(s, d, "events")
        .select("event_id", "user_id", "ts", "event_type", "value")
      srcDf.write.parquet(src)
      val schema = Tables.writtenSchema(srcDf)
      val q = s.readStream.schema(schema).parquet(src)
        .filter(col("event_type") =!= "error")
        .writeStream.format("graft")
        .option("path", base + "/t").option("primaryKey", "event_id")
        .option("checkpointLocation", base + "/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      CowTable(s, base + "/t", TableConfig("events_s", Seq("event_id"))).read()
    },

    // STREAMING SOURCE: readStream.format(graft) over the commit log —
    // three append commits drained through an AvailableNow micro-batch
    // stream into a SECOND graft table (source and sink both native — the
    // full DSv2 streaming matrix). Offsets are commit versions checkpointed
    // by the engine; each batch reads only its commits' ADDED files, so a
    // standing tail of a 100 TB table costs O(new data) per batch, not
    // O(table). Spec coverage (restart exactly-once, rewrite rejection,
    // compaction skip, pacing) in GraftStreamSourceSpec.
    Q("q91_stream_source",
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE event_id <= 3000
        |""".stripMargin) { (s, d) =>
      val base = tableDir("q91")
      CowTable.deleteRecursively(java.nio.file.Paths.get(base))
      val ev = t(s, d, "events")
        .select("event_id", "user_id", "event_type", "value")
      val src = CowTable(s, base + "/src",
        TableConfig("events_src", Seq("event_id")))
      src.create(ev.filter(col("event_id") <= 1000))                // v1
      src.upsert(ev.filter(                                         // v2
        col("event_id") > 1000 && col("event_id") <= 2000))
      src.upsert(ev.filter(                                         // v3
        col("event_id") > 2000 && col("event_id") <= 3000))
      val q = s.readStream.format("graft").load(base + "/src")
        .writeStream.format("graft")
        .option("path", base + "/dst").option("primaryKey", "event_id")
        .option("checkpointLocation", base + "/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      CowTable(s, base + "/dst",
        TableConfig("events_dst", Seq("event_id"))).read()
    },

    // RUNTIME FILE PRUNING (the DPP analog for manifest-tracked files):
    // orders partitioned by o_orderstatus joins a storage-backed dim
    // filtered to one label — at execution Spark feeds the dim's join-key
    // values into GraftScan.filter (SupportsRuntimeV2Filtering) and the
    // scan drops every file whose hive path can't match before planning
    // partitions. At 100 TB: a dimension slice touches a handful of fact
    // files instead of the whole table. Plan + file-count asserted in
    // GraftDataSourceSpec ("runtime V2 filtering…", "join against a
    // filtered dim…").
    Q("q92_runtime_prune_join",
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderstatus = 'F'
        |""".stripMargin) { (s, d) =>
      val base = tableDir("q92")
      CowTable.deleteRecursively(java.nio.file.Paths.get(base))
      CowTable(s, base + "/fact",
        TableConfig("orders_part", Seq("o_orderkey"),
          partitionKey = Some("o_orderstatus")))
        .create(t(s, d, "orders")
          .select("o_orderkey", "o_orderstatus", "o_totalprice"))
      t(s, d, "orders").select(col("o_orderstatus").as("st")).distinct()
        .withColumn("label", col("st"))
        .write.mode("overwrite").parquet(base + "/dim")
      val dim = s.read.parquet(base + "/dim").filter(col("label") === "F")
      s.read.format("graft").load(base + "/fact")
        .join(dim, col("o_orderstatus") === col("st"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    },

    // BLOOM INDEX (Hudi's default index re-expressed): two commits with
    // INTERLEAVED key spaces (odd custkeys, then even) give every file a
    // range spanning the whole table — min/max pruning alone must touch all
    // of them on any point merge. The per-file key bloom sidecar answers
    // per-key, so the third point-update commit rewrites only files that
    // can actually hold its keys (carried-file behavior asserted in
    // BloomIndexSpec). Oracle replays the merge arithmetic in SQL.
    Q("q93_bloom_index_merge",
      """SELECT c_custkey, c_name,
        |  CASE WHEN c_custkey % 97 = 0 THEN round(c_acctbal + 100, 2)
        |       ELSE c_acctbal END AS c_acctbal
        |FROM customer""".stripMargin) { (s, d) =>
      val base = tableDir("q93")
      CowTable.deleteRecursively(java.nio.file.Paths.get(base))
      val c = t(s, d, "customer").select("c_custkey", "c_name", "c_acctbal")
      val tbl = CowTable(s, base,
        TableConfig("customer_bloom", Seq("c_custkey"), bloomIndex = true))
      tbl.create(c.filter(col("c_custkey") % 2 === 1))
      tbl.upsert(c.filter(col("c_custkey") % 2 === 0))
      tbl.upsert(c.filter(col("c_custkey") % 97 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 100, 2)))
      tbl.read()
    },

    // OPTIMIZE ZORDER: hash-scattered composite-key lineitem slice is
    // rewritten along a Morton curve over (l_orderkey, l_linenumber) — a
    // dataChange=false reorganization that gives every file a tight
    // hyper-rectangle of the key space (both columns' stats sharpened at
    // once; probe-count and carried-file behavior asserted in ZOrderSpec) —
    // then AGAIN over (l_returnflag, l_orderkey): a STRING leading cluster
    // column via one-pass sampled range ids, the reference's natural
    // clustering key shape (its partition key is the string `category`,
    // cdk.json:71). Oracle = the untouched row set: both reorganizations
    // must preserve content exactly.
    Q("q94_zorder_optimize",
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
        |  l_extendedprice
        |FROM lineitem WHERE l_orderkey <= 1000
        |""".stripMargin) { (s, d) =>
      val base = tableDir("q94")
      CowTable.deleteRecursively(java.nio.file.Paths.get(base))
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
          "l_extendedprice")
        .filter(col("l_orderkey") <= 1000)
      val tbl = CowTable(s, base,
        TableConfig("li_z", Seq("l_orderkey", "l_linenumber")))
      tbl.create(li.repartition(8))
      tbl.optimize()
      tbl.optimize(Seq("l_returnflag", "l_orderkey"))
      tbl.read()
    },

    // CATALOG PLUGIN: the full SQL lifecycle through three-part names —
    // spark.sql.catalog.<name> = GraftCatalog over a durable lake dir
    // (LakeRegistry CAS chain), CTAS, INSERT, and SQL-native VERSION AS OF
    // time travel (the loadTable(ident, version) hook — previously only
    // reachable via read options). Result = rows added AFTER the CTAS
    // commit, computed in SQL as final EXCEPT VERSION-AS-OF-2 (v1 is the
    // declared-schema empty commit); oracle replays the slice directly.
    Q("q95_catalog_sql",
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE c_custkey % 3 = 0
        |""".stripMargin) { (s, d) =>
      val lake = tableDir("q95")
      CowTable.deleteRecursively(java.nio.file.Paths.get(lake))
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
      sess.read.parquet(s"$d/customer.parquet")
        .select("c_custkey", "c_name", "c_acctbal")
        .createOrReplaceTempView("customer_src")
      sess.sql(
        """CREATE TABLE lake.default.cust OPTIONS (primaryKey 'c_custkey')
          |AS SELECT * FROM customer_src WHERE c_custkey % 3 <> 0
          |""".stripMargin)                                    // v1 + v2
      sess.sql(
        """INSERT INTO lake.default.cust
          |SELECT * FROM customer_src WHERE c_custkey % 3 = 0
          |""".stripMargin)                                    // v3
      sess.sql(
        """SELECT * FROM lake.default.cust
          |EXCEPT
          |SELECT * FROM lake.default.cust VERSION AS OF 2
          |""".stripMargin)
    },

    // PARTITION-SCOPED INSERT OVERWRITE — the standard partition re-load
    // idiom (re-land one segment's data without touching the others):
    // static `PARTITION (c_mktsegment = 'BUILDING')` replaces exactly that
    // hive dir (out-of-scope files CARRY OVER by manifest reference — the
    // require asserts zero rewrite), then a DYNAMIC overwrite
    // (overwritePartitions) replaces exactly the partitions present in the
    // written frame. O(replaced partitions) + new bytes, never a snapshot
    // rewrite. Oracle composes the two replacements over the source rows.
    Q("q190_partition_overwrite",
      """WITH base AS (SELECT c_custkey, c_mktsegment, c_acctbal
        |  FROM customer),
        |afterStatic AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CASE WHEN c_mktsegment = 'BUILDING' THEN 0.0 ELSE c_acctbal END
        |      AS c_acctbal
        |  FROM base
        |  WHERE c_mktsegment <> 'BUILDING' OR c_custkey % 2 = 0)
        |SELECT c_custkey, c_mktsegment,
        |  CASE WHEN c_mktsegment = 'MACHINERY' THEN -1.0 ELSE c_acctbal END
        |    AS c_acctbal
        |FROM afterStatic
        |WHERE c_mktsegment <> 'MACHINERY' OR c_custkey % 5 = 0
        |""".stripMargin) { (s, d) =>
      val lake = tableDir("q190")
      CowTable.deleteRecursively(java.nio.file.Paths.get(lake))
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
      t(sess, d, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .createOrReplaceTempView("cust_src")
      sess.sql(
        """CREATE TABLE lake.default.cust_po
          |PARTITIONED BY (c_mktsegment)
          |OPTIONS (primaryKey 'c_custkey')
          |AS SELECT * FROM cust_src
          |""".stripMargin)
      val tbl = CowTable(sess, lake + "/cust_po",
        TableConfig("cust_po", Seq("c_custkey"),
          partitionKey = Some("c_mktsegment")))
      val vStatic = tbl.currentVersion
      val untouchedBefore = tbl.manifest(vStatic).files
        .map(_.path).filterNot(_.contains("c_mktsegment=BUILDING")).toSet
      // STATIC: re-land only the even keys of BUILDING with zeroed balances
      sess.sql(
        """INSERT OVERWRITE lake.default.cust_po
          |  PARTITION (c_mktsegment = 'BUILDING')
          |SELECT c_custkey, 0.0 AS c_acctbal FROM cust_src
          |WHERE c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0
          |""".stripMargin)
      val untouchedAfter = tbl.manifest(tbl.currentVersion).files
        .map(_.path).filterNot(_.contains("c_mktsegment=BUILDING")).toSet
      require(untouchedBefore == untouchedAfter,
        "static partition overwrite must carry out-of-scope files verbatim")
      // DYNAMIC: the written frame holds only MACHINERY → only it replaced
      sess.sql(
        """SELECT c_custkey, c_mktsegment, -1.0D AS c_acctbal
          |FROM cust_src
          |WHERE c_mktsegment = 'MACHINERY' AND c_custkey % 5 = 0
          |""".stripMargin)
        .writeTo("lake.default.cust_po").overwritePartitions()
      sess.sql("SELECT c_custkey, c_mktsegment, c_acctbal " +
        "FROM lake.default.cust_po")
    },

    // WRITE-AUDIT-PUBLISH over a BRANCH (Iceberg writable ref): fork the
    // table (O(files) hard-linked metadata), run the mutation batch on the
    // branch through the FULL SQL surface (MERGE + DELETE on the branch's
    // own lake-table registration), AUDIT the staged state (the expectation
    // gate: no negative balances may ship), then publish with ONE
    // fast-forward commit — main serves the pre-audit snapshot for the
    // whole staging window (require-asserted) and flips atomically. The
    // round-trip the raw write path can't give: a failed audit would just
    // drop_branch, main never exposed. Oracle composes the two mutations.
    Q("q191_wap_branch",
      """SELECT c_custkey, c_name, c_mktsegment,
        |  CAST(CASE WHEN c_custkey % 3 = 0 THEN round(c_acctbal + 11, 2)
        |       ELSE c_acctbal END AS DOUBLE) AS c_acctbal
        |FROM customer
        |WHERE c_mktsegment <> 'AUTOMOBILE'
        |""".stripMargin) { (s, d) =>
      val lake = tableDir("q191")
      CowTable.deleteRecursively(java.nio.file.Paths.get(lake))
      val main = CowTable(s, lake + "/cust_wap",
        TableConfig("cust_wap", Seq("c_custkey")))
      main.create(t(s, d, "customer")
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"))
      graft.storage.LakeRegistry.register(lake, main.config, "cust_wap")
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
      sess.sql("CALL lake.create_branch('cust_wap', 'audit')")
      // WRITE: the mutation batch lands on the branch only
      sess.sql(
        """MERGE INTO lake.default.cust_wap_branch_audit tgt
          |USING (SELECT c_custkey, round(c_acctbal + 11, 2) AS nb
          |       FROM lake.default.cust_wap
          |       WHERE c_custkey % 3 = 0) src
          |ON tgt.c_custkey = src.c_custkey
          |WHEN MATCHED THEN UPDATE SET c_acctbal = src.nb
          |""".stripMargin)
      sess.sql("DELETE FROM lake.default.cust_wap_branch_audit " +
        "WHERE c_mktsegment = 'AUTOMOBILE'")
      // AUDIT: the expectation gate runs against the STAGED state
      val staged = sess.sql(
        """SELECT
          |  sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS nulls,
          |  sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END)
          |    AS leftovers
          |FROM lake.default.cust_wap_branch_audit""".stripMargin)
        .head()
      require(staged.getLong(0) == 0 && staged.getLong(1) == 0,
        "audit failed — would drop_branch instead of publishing")
      // main served the audited-before snapshot for the whole window
      require(main.currentVersion == 1,
        "main must not move while the branch stages")
      // PUBLISH: one atomic fast-forward commit
      sess.sql("CALL lake.fast_forward('cust_wap', 'audit')")
      sess.sql("CALL lake.drop_branch('cust_wap', 'audit')")
      sess.sql(
        """SELECT c_custkey, c_name, c_mktsegment,
          |  CAST(c_acctbal AS DOUBLE) AS c_acctbal
          |FROM lake.default.cust_wap""".stripMargin)
    },

    // CONDITIONAL MULTI-CLAUSE MERGE (SQL2023 / Delta-Iceberg surface the
    // reference's MERGE is the simple case of): one statement routing each
    // matched row by ITS OWN predicate — negative-balance matches purge,
    // other matches update, and NOT MATCHED inserts only rows passing the
    // insert guard. First-matching-clause-wins ordering is the semantic
    // under test (a negative matched row must hit DELETE, never UPDATE).
    // Oracle replays the routing as CASE/WHERE set algebra.
    Q("q192_merge_multi_clause",
      """SELECT c_custkey, c_name,
        |  CAST(CASE WHEN c_custkey % 2 = 0 AND c_acctbal >= 0
        |       THEN round(c_acctbal + 5.25, 2) ELSE c_acctbal END
        |    AS DOUBLE) AS c_acctbal
        |FROM customer
        |WHERE NOT (c_custkey % 2 = 0 AND c_acctbal < 0)
        |UNION ALL
        |SELECT c_custkey + 1000000 AS c_custkey, c_name,
        |  CAST(0.0 AS DOUBLE) AS c_acctbal
        |FROM customer
        |WHERE c_custkey % 97 = 0 AND (c_custkey + 1000000) % 2 = 1
        |""".stripMargin) { (s, d) =>
      val lake = tableDir("q192")
      CowTable.deleteRecursively(java.nio.file.Paths.get(lake))
      val main = CowTable(s, lake + "/cust_mc",
        TableConfig("cust_mc", Seq("c_custkey")))
      main.create(t(s, d, "customer")
        .select("c_custkey", "c_name", "c_acctbal"))
      graft.storage.LakeRegistry.register(lake, main.config, "cust_mc")
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
      t(sess, d, "customer").select("c_custkey", "c_name")
        .createOrReplaceTempView("cust_src")
      sess.sql(
        """MERGE INTO lake.default.cust_mc tgt
          |USING (
          |  SELECT c_custkey AS k, c_name AS src_name FROM cust_src
          |  WHERE c_custkey % 2 = 0
          |  UNION ALL
          |  SELECT c_custkey + 1000000 AS k, c_name AS src_name
          |  FROM cust_src WHERE c_custkey % 97 = 0
          |) src
          |ON tgt.c_custkey = src.k
          |WHEN MATCHED AND tgt.c_acctbal < 0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET
          |  c_acctbal = round(tgt.c_acctbal + 5.25, 2)
          |WHEN NOT MATCHED AND src.k % 2 = 1 THEN INSERT
          |  (c_custkey, c_name, c_acctbal) VALUES (src.k, src.src_name, 0.0)
          |""".stripMargin)
      sess.sql(
        """SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
          |FROM lake.default.cust_mc""".stripMargin)
    },

    // IDEMPOTENT INGEST (Delta txnAppId/txnVersion parity): the foreachBatch
    // crash-recovery lifecycle — every batch is READ-MODIFY-WRITE (derived
    // from current table state, the shape where a blind replay corrupts),
    // and every batch is deliberately applied TWICE with the same
    // (appId, version) marker. Exactly-once is observable in the values: a
    // double-applied bump would read +14, a double-applied append would
    // duplicate keys. A final un-tagged mutation proves markers scope to
    // one operation (never silently skipping later writes). Oracle replays
    // the single application of each batch.
    Q("q193_idempotent_ingest",
      """SELECT c_custkey, c_name,
        |  CAST(CASE WHEN c_custkey % 5 = 0 THEN round(c_acctbal + 7, 2)
        |       ELSE c_acctbal END AS DOUBLE) AS c_acctbal
        |FROM customer WHERE c_custkey % 7 <> 0
        |UNION ALL
        |SELECT c_custkey + 500000 AS c_custkey, c_name,
        |  CAST(0.0 AS DOUBLE) AS c_acctbal
        |FROM customer WHERE c_custkey % 131 = 0
        |""".stripMargin) { (s, d) =>
      val dir = tableDir("q193") + "/cust_txn"
      CowTable.deleteRecursively(java.nio.file.Paths.get(dir).getParent)
      val tbl = CowTable(s, dir, TableConfig("cust_txn", Seq("c_custkey")))
      tbl.create(t(s, d, "customer")
        .select("c_custkey", "c_name", "c_acctbal"))
      // batch 1: bump derived FROM THE TABLE — replay would double-bump
      def bump() = tbl.read().filter(col("c_custkey") % 5 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 7, 2))
      tbl.withTxn("loader", 1L).upsert(bump())
      tbl.withTxn("loader", 1L).upsert(bump()) // recovery replay: no-op
      // batch 2: delete — replayed marker skips before any work
      def doomed() = tbl.read().filter(col("c_custkey") % 7 === 0)
        .select("c_custkey")
      tbl.withTxn("loader", 2L).delete(doomed())
      tbl.withTxn("loader", 2L).delete(doomed())
      // batch 3 through the DSv2 option surface: replayed INSERT vanishes
      val extra = t(s, d, "customer").filter(col("c_custkey") % 131 === 0)
        .select((col("c_custkey") + 500000).as("c_custkey"), col("c_name"),
          lit(java.math.BigDecimal.valueOf(0, 2))
            .cast(tbl.read().schema("c_acctbal").dataType).as("c_acctbal"))
      extra.write.format("graft").option("txnAppId", "etl")
        .option("txnVersion", 1L.toString).mode("append").save(dir)
      extra.write.format("graft").option("txnAppId", "etl")
        .option("txnVersion", 1L.toString).mode("append").save(dir)
      require(tbl.lastTxnVersion("loader").contains(2L) &&
        tbl.lastTxnVersion("etl").contains(1L),
        "txn high-water marks must record both writers")
      tbl.read().select(col("c_custkey"), col("c_name"),
        col("c_acctbal").cast("double").as("c_acctbal"))
    },

    // SQL MERGE **WITH SCHEMA EVOLUTION** — the reference's core CDC shape
    // end-to-end in SQL: the initial load carries NO CDC columns; the first
    // CDC batch ADDS `timestamp` and `last_applied_date` and the target
    // gains them as part of the MERGE (the batch adds last_applied_date at
    // src/hudi/hudi-cdc-load.py:94-95; Delta autoMerge
    // src/delta/delta-initial-load.py:33). Routed through the catalog's
    // alterTable(AddColumn) by Spark's ResolveMergeIntoSchemaEvolution;
    // untouched rows null-fill the evolved columns at read. Must converge
    // to the same state as q27/q85/q89: oracle is q27's verbatim.
    Q("q104_merge_schema_evolution", cdcOracleSql) { (s, d) =>
      val root = tableDir("q104")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", root)
      initialSnapshot(sess, d).createOrReplaceTempView("q104_init")
      sess.sql(
        """CREATE TABLE lake.default.user_state
          |OPTIONS (primaryKey 'user_id') AS SELECT * FROM q104_init
          |""".stripMargin)
      val batch = CdcDedup.latestPerKeyStrict(
        cdcBatch(sess, d), Seq("user_id"), "timestamp", Seq("event_id"))
      batch.filter(col("Op") =!= "D").drop("Op")
        .withColumn("last_applied_date", lit(auditTs).cast("timestamp"))
        .createOrReplaceTempView("q104_upsert")
      batch.filter(col("Op") === "D").createOrReplaceTempView("q104_delete")
      sess.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO lake.default.user_state t
          |USING q104_upsert s ON s.user_id = t.user_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |""".stripMargin)
      sess.sql(
        """MERGE INTO lake.default.user_state t
          |USING q104_delete s ON s.user_id = t.user_id
          |WHEN MATCHED THEN DELETE
          |""".stripMargin)
      sess.table("lake.default.user_state")
    },

    // SHALLOW CLONE (Delta CLONE re-expressed): fork a customer table by
    // hard links (zero data copy, stats carried verbatim — CowTableSpec
    // asserts inode sharing), then dedup/filter/mutate THE FORK: upsert a
    // +100 balance for every nation-3 customer and delete nation 7. The
    // result is the fork's final state; the untouched source is asserted
    // bit-identical in the spec. This is the experiment-branch primitive a
    // training pipeline wants: fork the corpus, repack the fork, keep the
    // original. Oracle replays the fork's mutations in SQL.
    Q("q105_shallow_clone",
      """SELECT c_custkey,
        |  CASE WHEN c_nationkey = 3 THEN round(c_acctbal + 100, 2)
        |       ELSE c_acctbal END AS c_acctbal,
        |  c_nationkey
        |FROM customer WHERE c_nationkey <> 7
        |""".stripMargin) { (s, d) =>
      val base = tableDir("q105")
      CowTable.deleteRecursively(java.nio.file.Paths.get(base))
      val c = t(s, d, "customer")
        .select("c_custkey", "c_acctbal", "c_nationkey")
      val src = CowTable(s, base + "/src",
        TableConfig("cust", Seq("c_custkey")))
      src.create(c)
      val fork = src.shallowClone(base + "/fork", Some("cust_fork"))
      fork.upsert(c.filter(col("c_nationkey") === 3)
        .withColumn("c_acctbal", round(col("c_acctbal") + 100, 2)))
      fork.delete(c.filter(col("c_nationkey") === 7).select("c_custkey"))
      fork.read()
    },

    // Plain SQL UPDATE + DELETE statements (the row-level surface beyond
    // MERGE — Spark plans them through SupportsRowLevelOperations onto the
    // same pruned COW rewrite): raise every nation-5 balance 10%, drop
    // nation 9, read the final state. Oracle replays both statements.
    Q("q107_sql_update_delete",
      s"""SELECT c_custkey,
        |  CASE WHEN c_nationkey = 5
        |       THEN ${graft.core.Parity.round2Sql("c_acctbal * 1.1")}
        |       ELSE c_acctbal END AS c_acctbal,
        |  c_nationkey
        |FROM customer WHERE c_nationkey <> 9
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q107")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", root)
      t(sess, d, "customer").select("c_custkey", "c_acctbal", "c_nationkey")
        .createOrReplaceTempView("q107_cust")
      sess.sql(
        """CREATE TABLE lake.default.cust OPTIONS (primaryKey 'c_custkey')
          |AS SELECT * FROM q107_cust
          |""".stripMargin)
      // Parity floor-form on both sides: *1.1 puts 2-decimal balances on
      // 3-decimal half boundaries where round() is engine-divergent (the
      // exact class the sf0.1 stress verify caught on q110)
      sess.sql("UPDATE lake.default.cust SET c_acctbal = " +
        graft.core.Parity.round2Sql("c_acctbal * 1.1") +
        " WHERE c_nationkey = 5")
      sess.sql("DELETE FROM lake.default.cust WHERE c_nationkey = 9")
      sess.table("lake.default.cust")
    },

    // CHECK CONSTRAINTS (Delta ADD CONSTRAINT invariants): the table
    // declares `o_totalprice > 0; o_orderkey >= 0` via SQL OPTIONS; every
    // write path validates (batch API pre-write, connector at commit over
    // the fresh files only — O(batch), never the table). Violations fail
    // loud naming the constraint (CheckConstraintsSpec); this query proves
    // the PASSING path end-to-end: constrained CTAS + constrained INSERT,
    // read back. Oracle = the inserted rows.
    Q("q108_check_constraints",
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 = 0
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q108")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", root)
      t(sess, d, "orders").select("o_orderkey", "o_totalprice")
        .filter(col("o_orderkey") % 3 === 0)
        .createOrReplaceTempView("q108_orders")
      sess.sql(
        """CREATE TABLE lake.default.ord
          |OPTIONS (primaryKey 'o_orderkey',
          |  checkConstraints 'o_totalprice > 0; o_orderkey >= 0')
          |AS SELECT * FROM q108_orders WHERE o_orderkey % 2 = 0
          |""".stripMargin)
      sess.sql(
        """INSERT INTO lake.default.ord
          |SELECT * FROM q108_orders WHERE o_orderkey % 2 = 1
          |""".stripMargin)
      sess.table("lake.default.ord")
    },

    // STORAGE-PARTITIONED JOIN (Iceberg-style SPJ): two graft tables
    // hive-partitioned on event_type report KeyGroupedPartitioning, so
    // with v2 bucketing on, Spark aligns their partitions and the join
    // plans with ZERO Exchange (plan-asserted in GraftSpjSpec) — at 100 TB
    // the difference between shuffling both fact tables and shuffling
    // nothing. Grouping is conf-gated: plain scans keep per-file
    // parallelism. Oracle replays the join in SQL.
    Q("q96_spj_join",
      """SELECT e.event_id, e.event_type, d.cnt
        |FROM events e
        |JOIN (SELECT event_type, COUNT(*) AS cnt
        |      FROM events GROUP BY event_type) d
        |  ON e.event_type = d.event_type
        |""".stripMargin) { (s, d) =>
      val base = tableDir("q96")
      CowTable.deleteRecursively(java.nio.file.Paths.get(base))
      val ev = t(s, d, "events").select("event_id", "event_type")
      CowTable(s, base + "/facts",
        TableConfig("ev", Seq("event_id"), partitionKey = Some("event_type")))
        .create(ev)
      CowTable(s, base + "/dims",
        TableConfig("evd", Seq("event_type"),
          partitionKey = Some("event_type")))
        .create(ev.groupBy("event_type").agg(count(lit(1)).as("cnt")))
      val sess = s.newSession()
      sess.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      sess.read.format("graft").load(base + "/facts")
        .join(sess.read.format("graft").load(base + "/dims"), "event_type")
        .select(col("event_id"), col("event_type"), col("cnt"))
    },

    // METADATA TABLES ($history / $files): DESCRIBE-HISTORY-style
    // introspection as plain SQL over manifests — a LocalScan (driver-local
    // rows, zero jobs, zero data IO). Result: the commit log of a
    // create + disjoint-upsert table joined to the current file inventory's
    // row total; oracle recomputes both from the data slice in SQL.
    Q("q97_metadata_tables",
      """SELECT CAST(1 AS INT) AS version, CAST(0 AS INT) AS parent,
        |  true AS data_change,
        |  (SELECT COUNT(*) FROM customer WHERE c_custkey % 2 = 1)
        |    AS row_count,
        |  (SELECT COUNT(*) FROM customer) AS current_file_rows
        |UNION ALL
        |SELECT CAST(2 AS INT), CAST(1 AS INT), true,
        |  (SELECT COUNT(*) FROM customer),
        |  (SELECT COUNT(*) FROM customer)
        |""".stripMargin) { (s, d) =>
      val lake = tableDir("q97")
      CowTable.deleteRecursively(java.nio.file.Paths.get(lake))
      val c = t(s, d, "customer").select("c_custkey", "c_name", "c_acctbal")
      val tbl = CowTable(s, lake + "/cust",
        TableConfig("cust", Seq("c_custkey")))
      tbl.create(c.filter(col("c_custkey") % 2 === 1))
      tbl.upsert(c.filter(col("c_custkey") % 2 === 0))
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
      graft.storage.LakeRegistry.register(lake,
        TableConfig("cust", Seq("c_custkey")), lake + "/cust")
      sess.sql(
        """SELECT h.version, h.parent, h.data_change, h.row_count,
          |  (SELECT SUM(rows) FROM lake.default.`cust$files`)
          |    AS current_file_rows
          |FROM lake.default.`cust$history` h
          |""".stripMargin)
    },

    // `$partitions` metadata table (Iceberg parity): per-partition-value
    // file/row/byte rollup of the current snapshot as one O(files) manifest
    // fold — zero jobs, zero data IO. The skew-and-small-file dashboard
    // (which partition needs `compact`, which value is hot) as plain SQL.
    // Oracle recomputes per-partition row counts from the data; file/byte
    // columns are layout-dependent so the query projects value+rows.
    Q("q106_partitions_meta",
      """SELECT event_type AS partition_value, COUNT(*) AS row_count
        |FROM events GROUP BY event_type
        |""".stripMargin) { (s, d) =>
      val lake = tableDir("q106")
      CowTable.deleteRecursively(java.nio.file.Paths.get(lake))
      val ev = t(s, d, "events")
        .select("event_id", "event_type", "user_id", "value")
      val tbl = CowTable(s, lake + "/ev",
        TableConfig("ev", Seq("event_id"), partitionKey = Some("event_type")))
      tbl.create(ev)
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
      graft.storage.LakeRegistry.register(lake,
        TableConfig("ev", Seq("event_id"), partitionKey = Some("event_type")),
        lake + "/ev")
      sess.sql(
        """SELECT partition_value, row_count
          |FROM lake.default.`ev$partitions`
          |""".stripMargin)
    },

    // GENERAL DATA SKIPPING (statsColumns): the events log keyed by
    // event_id carries extra per-file [min,max] stats on the ts column
    // (footer-read only, no extra commit IO — the Delta
    // dataSkippingNumIndexedCols analog). A time-range scan through the
    // connector then skips files at the manifest level (files=k/N
    // plan-asserted in StatsColumnsSpec); at 100 TB this is how an
    // append-only event table answers "last week" without touching a year
    // of files. Oracle replays the range in SQL.
    Q("q98_stats_skipping",
      """SELECT event_id, user_id, ts, event_type FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |""".stripMargin) { (s, d) =>
      val base = tableDir("q98")
      CowTable.deleteRecursively(java.nio.file.Paths.get(base))
      val ev = t(s, d, "events")
        .select("event_id", "user_id", "ts", "event_type")
      CowTable(s, base,
        TableConfig("ev", Seq("event_id"), statsColumns = Seq("ts")))
        .create(ev.repartitionByRange(8, col("ts")))
      s.read.format("graft").load(base)
        .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-20 00:00:00").cast("timestamp"))
    },

    // MATERIALIZED CHANGE DATA FEED (Delta enableChangeDataFeed): mutation
    // commits write their exact I/U/D rows to manifest-referenced _cdc
    // dirs, so the feed is ROW-exact over ordinary MULTI-row files — no
    // per-commit reconstruction join, no same-file false positives (q75
    // needed a one-row-per-file fixture for exactness; this does not).
    // Feed (1, 3]: v2's updates then v3's delete tombstones carrying
    // preimages. Oracle replays both commits' row sets in SQL.
    Q("q99_change_data_feed",
      """SELECT c_custkey, round(c_acctbal + 50, 2) AS c_acctbal,
        |  CAST(2 AS INT) AS _commit_version,
        |  'update_postimage' AS _change_type
        |FROM customer WHERE c_custkey % 17 = 0
        |UNION ALL
        |SELECT c_custkey, c_acctbal, CAST(2 AS INT), 'update_preimage'
        |FROM customer WHERE c_custkey % 17 = 0
        |UNION ALL
        |SELECT c_custkey,
        |  CASE WHEN c_custkey % 17 = 0 THEN round(c_acctbal + 50, 2)
        |       ELSE c_acctbal END,
        |  CAST(3 AS INT), 'delete'
        |FROM customer WHERE c_custkey % 23 = 0
        |""".stripMargin) { (s, d) =>
      val base = tableDir("q99")
      CowTable.deleteRecursively(java.nio.file.Paths.get(base))
      val c = t(s, d, "customer").select("c_custkey", "c_acctbal")
      val tbl = CowTable(s, base,
        TableConfig("cust_cdf", Seq("c_custkey"), changeDataFeed = true))
      tbl.create(c)                                                  // v1
      tbl.upsert(c.filter(col("c_custkey") % 17 === 0)               // v2
        .withColumn("c_acctbal", round(col("c_acctbal") + 50, 2)))
      tbl.delete(c.filter(col("c_custkey") % 23 === 0)               // v3
        .select("c_custkey"))
      tbl.readChangeFeed(1, 3)
        .select(col("c_custkey"), col("c_acctbal"),
          col("_commit_version"), col("_change_type"))
    },

    // BATCH CONNECTOR CHANGE FEED (Delta spark.read.option(readChangeFeed)
    // parity): q99's change set read through the DSv2 scan instead of the
    // API — partitions are the materialized _cdc files plus append files
    // with constant metadata columns, windowed by the INCLUSIVE
    // startingVersion/endingVersion options (Delta's convention). Same
    // oracle as q99: the read path changes, the semantics must not.
    Q("q109_batch_cdf_scan",
      """SELECT c_custkey, round(c_acctbal + 50, 2) AS c_acctbal,
        |  CAST(2 AS INT) AS _commit_version,
        |  'update_postimage' AS _change_type
        |FROM customer WHERE c_custkey % 17 = 0
        |UNION ALL
        |SELECT c_custkey, c_acctbal, CAST(2 AS INT), 'update_preimage'
        |FROM customer WHERE c_custkey % 17 = 0
        |UNION ALL
        |SELECT c_custkey,
        |  CASE WHEN c_custkey % 17 = 0 THEN round(c_acctbal + 50, 2)
        |       ELSE c_acctbal END,
        |  CAST(3 AS INT), 'delete'
        |FROM customer WHERE c_custkey % 23 = 0
        |""".stripMargin) { (s, d) =>
      val base = tableDir("q109")
      CowTable.deleteRecursively(java.nio.file.Paths.get(base))
      val c = t(s, d, "customer").select("c_custkey", "c_acctbal")
      val tbl = CowTable(s, base,
        TableConfig("cust_cdf", Seq("c_custkey"), changeDataFeed = true))
      tbl.create(c)                                                  // v1
      tbl.upsert(c.filter(col("c_custkey") % 17 === 0)               // v2
        .withColumn("c_acctbal", round(col("c_acctbal") + 50, 2)))
      tbl.delete(c.filter(col("c_custkey") % 23 === 0)               // v3
        .select("c_custkey"))
      s.read.format("graft")
        .option("readChangeFeed", "true")
        .option("startingVersion", "2").option("endingVersion", "3")
        .load(base)
        .select(col("c_custkey"), col("c_acctbal"),
          col("_commit_version"), col("_change_type"))
    },

    // ALTER TABLE RENAME COLUMN (Delta column-mapping semantics): the
    // rename is METADATA-ONLY — every data file keeps its original
    // physical column name, the manifest records logical→physical, and a
    // 100 TB table renames in one manifest write. The query proves the
    // full SQL surface follows: rename, then UPDATE + INSERT through the
    // connector under the NEW name, read back. Oracle replays the
    // mutations with the renamed output column.
    // portable floor-form rounding on BOTH sides (Parity.round2Sql):
    // round(x, 2) disagrees between engines on half-boundary doubles
    // (3888.7*1.05 → 4083.13 Spark vs 4083.14 DuckDB) — invisible at
    // sf0.01, caught by the sf0.1 stress verify in round 10
    Q("q110_rename_column",
      s"""SELECT c_custkey,
        |  CASE WHEN c_nationkey = 5
        |       THEN ${graft.core.Parity.round2Sql("c_acctbal * 1.05")}
        |       ELSE c_acctbal END AS balance,
        |  c_nationkey
        |FROM customer
        |UNION ALL
        |SELECT -1, 999.99, 999
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q110")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", root)
      t(sess, d, "customer").select("c_custkey", "c_acctbal", "c_nationkey")
        .createOrReplaceTempView("q110_cust")
      sess.sql(
        """CREATE TABLE lake.default.cust OPTIONS (primaryKey 'c_custkey')
          |AS SELECT * FROM q110_cust
          |""".stripMargin)
      sess.sql(
        "ALTER TABLE lake.default.cust RENAME COLUMN c_acctbal TO balance")
      sess.sql("UPDATE lake.default.cust SET balance = " +
        graft.core.Parity.round2Sql("balance * 1.05") +
        " WHERE c_nationkey = 5")
      sess.sql(
        "INSERT INTO lake.default.cust VALUES (-1, 999.99, 999)")
      sess.table("lake.default.cust")
    },

    // ALTER TABLE DROP COLUMN + re-ADD under the same name: the drop is
    // metadata-only (bytes stay in the files, unread); the physical slot
    // burns in the manifest, so the re-added column maps to a FRESH
    // physical name and old bytes can NEVER resurrect — pre-drop rows read
    // NULL, post-re-add writes read back. The failure mode this design
    // exists to kill is silent data resurrection, the reason Delta gates
    // drops behind column mapping.
    Q("q111_drop_readd_column",
      """SELECT c_custkey, c_nationkey,
        |  CASE WHEN c_nationkey = 3 THEN 'refreshed' END AS c_mktsegment
        |FROM customer
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q111")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", root)
      t(sess, d, "customer").select("c_custkey", "c_nationkey", "c_mktsegment")
        .createOrReplaceTempView("q111_cust")
      sess.sql(
        """CREATE TABLE lake.default.cust OPTIONS (primaryKey 'c_custkey')
          |AS SELECT * FROM q111_cust
          |""".stripMargin)
      sess.sql("ALTER TABLE lake.default.cust DROP COLUMN c_mktsegment")
      sess.sql("ALTER TABLE lake.default.cust ADD COLUMN c_mktsegment STRING")
      sess.sql("UPDATE lake.default.cust SET c_mktsegment = 'refreshed' " +
        "WHERE c_nationkey = 3")
      sess.table("lake.default.cust")
    },

    // STREAMING CHANGE FEED: readStream.format(graft)
    // .option(readChangeFeed) tails the SAME history as q99 and emits
    // create-inserts, update postimages, and preimage delete tombstones
    // with their commit versions — the standing-CDC-consumer completion of
    // the reference's incremental pattern (append commits stream their
    // added files; mutation commits stream their materialized _cdc rows).
    // Oracle = q99's change set plus v1's full insert load.
    Q("q100_stream_change_feed",
      """SELECT c_custkey, c_acctbal, CAST(1 AS INT) AS _commit_version,
        |  'insert' AS _change_type
        |FROM customer
        |UNION ALL
        |SELECT c_custkey, round(c_acctbal + 50, 2), CAST(2 AS INT),
        |  'update_postimage'
        |FROM customer WHERE c_custkey % 17 = 0
        |UNION ALL
        |SELECT c_custkey, c_acctbal, CAST(2 AS INT), 'update_preimage'
        |FROM customer WHERE c_custkey % 17 = 0
        |UNION ALL
        |SELECT c_custkey,
        |  CASE WHEN c_custkey % 17 = 0 THEN round(c_acctbal + 50, 2)
        |       ELSE c_acctbal END,
        |  CAST(3 AS INT), 'delete'
        |FROM customer WHERE c_custkey % 23 = 0
        |""".stripMargin) { (s, d) =>
      val base = tableDir("q100")
      CowTable.deleteRecursively(java.nio.file.Paths.get(base))
      val c = t(s, d, "customer").select("c_custkey", "c_acctbal")
      val tbl = CowTable(s, base + "/t",
        TableConfig("cust_cdf_s", Seq("c_custkey"), changeDataFeed = true))
      tbl.create(c)                                                  // v1
      tbl.upsert(c.filter(col("c_custkey") % 17 === 0)               // v2
        .withColumn("c_acctbal", round(col("c_acctbal") + 50, 2)))
      tbl.delete(c.filter(col("c_custkey") % 23 === 0)               // v3
        .select("c_custkey"))
      val sess = s.newSession()
      val q = sess.readStream.format("graft")
        .option("readChangeFeed", "true").load(base + "/t")
        .writeStream.format("memory").queryName("q100_sink")
        .option("checkpointLocation", base + "/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      sess.table("q100_sink")
        .select("c_custkey", "c_acctbal", "_commit_version", "_change_type")
    },

    // CALL PROCEDURES (Iceberg rewrite_data_files/expire_snapshots-style
    // maintenance as SQL): CALL lake.compact + CALL lake.optimize fold and
    // z-order a CDC-sprawled orders table entirely from SQL — both are
    // dataChange=false reorganizations, so the final read must equal the
    // untouched row set (the oracle). Spec asserts versions/vacuum counts.
    Q("q101_call_procedures",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 2 = 0
        |""".stripMargin) { (s, d) =>
      val lake = tableDir("q101")
      CowTable.deleteRecursively(java.nio.file.Paths.get(lake))
      val o = t(s, d, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .filter(col("o_orderkey") % 2 === 0)
      val tbl = CowTable(s, lake + "/ord",
        TableConfig("ord", Seq("o_orderkey")))
      tbl.create(o.filter(col("o_orderkey") % 4 === 0))
      tbl.upsert(o.filter(col("o_orderkey") % 4 === 2))
      graft.storage.LakeRegistry.register(lake,
        TableConfig("ord", Seq("o_orderkey")), lake + "/ord")
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
      sess.sql("CALL lake.compact('ord')").collect()
      sess.sql("CALL lake.optimize('ord')").collect()
      sess.table("lake.default.ord")
    },

    // INCREMENTAL OPTIMIZE (liquid-clustering amortization): repeated
    // `CALL lake.optimize` rewrites ONLY files added since the last
    // clustering — outputs carry a zorderBy signature tag in the manifest,
    // tagged files carry over untouched, and an optimize with nothing new
    // is a metadata no-op. A nightly OPTIMIZE on a growing 100 TB table
    // costs O(new files), not O(table); `full => true` forces the whole
    // re-cluster when churn has degraded the curve. Oracle = exact content
    // through create → optimize → no-op optimize → upsert → incremental
    // optimize → full optimize (all reorganizations content-preserving,
    // the upsert the only dataChange).
    Q("q116_incremental_optimize",
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey BETWEEN 100 AND 300 THEN o_totalprice + 100
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderkey % 2 = 0
        |""".stripMargin) { (s, d) =>
      val lake = tableDir("q116")
      CowTable.deleteRecursively(java.nio.file.Paths.get(lake))
      // half the table: the carry-over contract this query proves (tagged
      // files survive incremental OPTIMIZE; a second identical OPTIMIZE is
      // a metadata no-op) is file-granular, not row-count-sensitive — and
      // the 4-optimize lifecycle was the bench suite's most
      // contention-sensitive entry at full size
      val o = t(s, d, "orders")
        .filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val cfg = TableConfig("oi", Seq("o_orderkey"))
      val tbl = CowTable(s, lake + "/oi", cfg)
      tbl.create(o.repartition(8))
      graft.storage.LakeRegistry.register(lake, cfg, lake + "/oi")
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
      sess.sql("CALL lake.optimize('oi', 'o_custkey,o_orderkey')")
        .collect()                                          // v2: all tagged
      val v2 = tbl.currentVersion
      require(tbl.manifest(v2).files.forall(_.zorderBy.nonEmpty),
        "optimize outputs must carry the cluster-signature tag")
      sess.sql("CALL lake.optimize('oi', 'o_custkey,o_orderkey')")
        .collect()                                          // metadata no-op
      require(tbl.currentVersion == v2,
        "a second identical OPTIMIZE must not rewrite anything")
      tbl.upsert(o.filter(col("o_orderkey").between(100, 300))
        .withColumn("o_totalprice", col("o_totalprice") + 100)) // churn
      val tagged = tbl.manifest(tbl.currentVersion).files
        .filter(_.zorderBy.nonEmpty).map(_.path).toSet
      sess.sql("CALL lake.optimize('oi', 'o_custkey,o_orderkey')")
        .collect()                                          // incremental
      val m4 = tbl.manifest(tbl.currentVersion)
      require(tagged.forall(p => m4.files.exists(_.path == p)),
        "already-clustered files must carry through incremental OPTIMIZE")
      sess.sql("CALL lake.optimize('oi', 'o_custkey,o_orderkey', '', true)")
        .collect()                                          // full re-cluster
      tbl.read()
    },

    // TIMESTAMP AS OF: commit times stamped by an injected deterministic
    // clock; reading strictly between the two commit timestamps must resolve
    // to v1 — the pre-merge snapshot (the Delta/Iceberg timestamp-travel
    // surface VERSION AS OF alone could not reach).
    Q("q83_time_travel_ts",
      "SELECT * FROM customer") { (s, d) =>
      val c = t(s, d, "customer")
      val ticks = new java.util.concurrent.atomic.AtomicLong(0L)
      val tbl = CowTable(s, tableDir("q83"),
        TableConfig("customer", Seq("c_custkey")))
        .withClock(() => ticks.addAndGet(1000L))
      CowTable.deleteRecursively(java.nio.file.Paths.get(tableDir("q83")))
      tbl.create(c)                                        // committed at 1000
      tbl.upsert(                                          // committed at 2000
        c.filter(col("c_custkey") % 7 === 0)
          .withColumn("c_acctbal", round(col("c_acctbal") + 42, 2)))
      tbl.readAsOf(1500L)
    },

    // §3.2 the end-to-end CDC pipeline: initial load → COW v1, synthetic
    // DMS-shaped batch → dedup (strict, precombine=event_id) → op routing →
    // upsert then delete → final snapshot. Oracle replays the identical
    // semantics in SQL (full-outer merge + anti-join, audit column stamped
    // with the injected deterministic timestamp).
    Q("q27_cdc_pipeline", cdcOracleSql) { (s, d) =>
      val tbl = CowTable.replace(s, tableDir("q27"),
        TableConfig("user_state", Seq("user_id"),
          precombineKey = Some("event_id")),
        initialSnapshot(s, d))
      CdcPipeline.applyBatch(tbl, cdcBatch(s, d),
        auditTs = lit(auditTs).cast("timestamp"))
      tbl.read()
    },

    // The SAME reference CDC lifecycle on a DELETION-VECTOR table — the
    // hourly loop with MOR write economics: the upsert marks preimage
    // positions + appends the deduped batch, the delete marks positions,
    // and NOT ONE initial-load file is rewritten (manifest-asserted).
    // Identical oracle as q27: dedup ties break on event_id via the
    // pipeline's tieBreak (the table itself is precombine-free — the MOR
    // fence), the table pre-declares the audit columns (a MOR deployment
    // declares its schema up front; null for initial rows, exactly the
    // oracle's init rows), and upsert semantics are source-wins ≡ the
    // oracle's CASE WHEN.
    Q("q167_cdc_pipeline_mor", cdcOracleSql) { (s, d) =>
      val tbl = CowTable.replace(s, tableDir("q167"),
        TableConfig("user_state", Seq("user_id"),
          changeDataFeed = true, deletionVectors = true),
        initialSnapshot(s, d)
          .withColumn("timestamp", lit(null).cast("timestamp"))
          .withColumn("last_applied_date", lit(null).cast("timestamp")))
      val v1Paths = tbl.manifest(1).files.map(_.path).toSet
      CdcPipeline.applyBatch(tbl, cdcBatch(s, d),
        auditTs = lit(auditTs).cast("timestamp"),
        tieBreak = Seq("event_id"))
      val m = tbl.manifest(tbl.currentVersion)
      require(v1Paths.subsetOf(m.files.map(_.path).toSet),
        "MOR CDC apply must never rewrite an initial-load file")
      require(m.files.exists(_.dvPath.isDefined),
        "expected deletion vectors from the CDC apply")
      require(m.files.exists(e => !v1Paths(e.path)),
        "expected the deduped batch appended as fresh files")
      tbl.read()
    },

    // Incremental change feed (Delta CDF-lite): replay q27's pipeline over a
    // table written one-row-per-file (maxRecordsPerFile=1, flat layout —
    // per-file [k,k] stats make the prune per-key-exact), so every rewritten
    // file holds exactly one key's row and the feed is row-exact with no
    // same-file false positives. Feed 1 -> current = the post-merge rows of
    // the upserted users stamped _commit_version=2 (the delete commit only
    // removes rows, adding no files). Restricted to a fixed user subset:
    // the check is feed SEMANTICS, and per-row files are a correctness
    // fixture, not a layout to scale with sf.
    Q("q75_change_feed",
      s"""WITH ${evCdcDedupCte(" WHERE user_id % 5 = 0 AND user_id < 500")}
         |SELECT user_id, event_id, event_type, value,
         |  ets AS "timestamp",
         |  TIMESTAMP '$auditTs' AS last_applied_date,
         |  CAST(2 AS INT) AS _commit_version
         |FROM dedup WHERE op <> 'D'
         |""".stripMargin) { (s, d) =>
      val tbl = feedFixture(s, d)
      tbl.readChangesWithVersion(1, tbl.currentVersion)
    },

    // Change feed WITH DELETE TOMBSTONES (Delta CDF parity): q75's fixture
    // plus _change_type classification — upserted users split into
    // insert/update_postimage by pre-state membership (commit 2), deleted
    // users surface as 'delete' tombstones carrying their PRE-image (the v1
    // row: never upserted, so timestamp/last_applied_date are NULL) stamped
    // with the delete commit (3). The one-row-per-file layout makes the
    // file-diff classification per-key exact (no co-located-row churn).
    Q("q80_change_feed_deletes",
      s"""WITH ${evCdcDedupCte(" WHERE user_id % 5 = 0 AND user_id < 500")},
         |pre AS (SELECT user_id, event_id, event_type, value,
         |  row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM ev WHERE ts < TIMESTAMP '$cutoff'),
         |init AS (SELECT user_id, event_id, event_type, value
         |         FROM pre WHERE rn = 1),
         |ups AS (SELECT user_id, event_id, event_type, value, ets
         |        FROM dedup WHERE op <> 'D'),
         |dels AS (SELECT i.* FROM init i
         |         JOIN dedup d ON d.user_id = i.user_id AND d.op = 'D')
         |SELECT u.user_id, u.event_id, u.event_type, u.value,
         |  u.ets AS "timestamp",
         |  TIMESTAMP '$auditTs' AS last_applied_date,
         |  CAST(2 AS INT) AS _commit_version,
         |  CASE WHEN i.user_id IS NULL THEN 'insert'
         |       ELSE 'update_postimage' END AS _change_type
         |FROM ups u LEFT JOIN init i ON i.user_id = u.user_id
         |UNION ALL
         |SELECT i.user_id, i.event_id, i.event_type, i.value,
         |  CAST(NULL AS TIMESTAMP) AS "timestamp",
         |  CAST(NULL AS TIMESTAMP) AS last_applied_date,
         |  CAST(2 AS INT) AS _commit_version,
         |  'update_preimage' AS _change_type
         |FROM init i JOIN ups u ON u.user_id = i.user_id
         |UNION ALL
         |SELECT d.user_id, d.event_id, d.event_type, d.value,
         |  CAST(NULL AS TIMESTAMP) AS "timestamp",
         |  CAST(NULL AS TIMESTAMP) AS last_applied_date,
         |  CAST(3 AS INT) AS _commit_version, 'delete' AS _change_type
         |FROM dels d
         |""".stripMargin) { (s, d) =>
      val tbl = feedFixture(s, d)
      // _commit_timestamp is wall-clock (un-oracle-able) — drop it here
      tbl.readChangeFeed(1, tbl.currentVersion).drop("_commit_timestamp")
    },

    // §2.2 strict dedup (the precombine tie-break path,
    // reference concept cdk.json:61-86 precombine_key): exactly one row per
    // key, (ts desc, event_id desc) — deterministic even under ties.
    Q("q34_cdc_latest_strict",
      """WITH ev AS (SELECT user_id, event_id, event_type, value,
        |  CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT user_id, event_id, event_type, value, ts FROM (
        |  SELECT user_id, event_id, event_type, value, ts,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM ev) x
        |WHERE rn = 1
        |""".stripMargin) { (s, d) =>
      CdcDedup.latestPerKeyStrict(
        t(s, d, "events")
          .select("user_id", "event_id", "event_type", "value", "ts"),
        Seq("user_id"), "ts", Seq("event_id"))
    },

    // §2.2 #15 single-pass per-Op count metrics (replaces the reference's 4
    // separate count() actions, src/hudi/hudi-cdc-load.py:97-104).
    Q("q35_op_counts",
      s"""SELECT CASE WHEN event_type = 'error' THEN 'D'
         |            WHEN event_type = 'signup' THEN 'I'
         |            ELSE 'U' END AS op, count(*) AS n
         |FROM events WHERE ts >= TIMESTAMP '$cutoff'
         |GROUP BY 1
         |""".stripMargin) { (s, d) =>
      cdcBatch(s, d).groupBy(col("Op").as("op"))
        .agg(count(lit(1)).as("n"))
    },

    // Skew-safe salted equi-join (big side salted, small side replicated)
    // — must be row-identical to the plain inner join.
    Q("q68_salted_join",
      """SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
        |  c.c_name, c.c_mktsegment
        |FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |""".stripMargin) { (s, d) =>
      graft.operators.SkewSafe.saltedJoin(
        t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        t(s, d, "customer").select(
          col("c_custkey").as("o_custkey"), col("c_name"),
          col("c_mktsegment")),
        keyCols = Seq("o_custkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice",
          "c_name", "c_mktsegment")
    },

    // Bloom-pruned semi-join (the runtime-filter shape: InjectRuntimeFilter
    // / dynamic file pruning as an explicit operator): the filtered orders
    // side folds into an m-bit bitset in ONE aggregate, the bitset rides
    // the plan as a literal, and lineitem rows are Bloom-tested in a
    // codegen'd projection BEFORE any shuffle — only positives (true
    // matches + ~1e-10 FP) reach the exact leftsemi join. Result must be
    // identical to the plain semi-join, so the oracle is the plain
    // IN-subquery.
    Q("q141_bloom_semijoin",
      """SELECT l_orderkey, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders WHERE o_totalprice > 495000)
        |""".stripMargin) { (s, d) =>
      graft.operators.BloomJoin.semiJoin(
        t(s, d, "lineitem")
          .select("l_orderkey", "l_quantity", "l_extendedprice"),
        t(s, d, "orders").filter(col("o_totalprice") > 495000)
          .select("o_orderkey"),
        "l_orderkey", "o_orderkey")
    },

    // Skew-safe two-stage distinct count (value-salted) — must equal the
    // direct COUNT(DISTINCT) exactly; the salting is invisible in the result.
    Q("q50_salted_distinct",
      """SELECT user_id, CAST(count(DISTINCT value) AS BIGINT) AS n_distinct
        |FROM events GROUP BY user_id
        |""".stripMargin) { (s, d) =>
      graft.operators.SkewSafe.saltedDistinctCount(
        t(s, d, "events"), Seq("user_id"), "value")
    },

    // Small-file compaction: create as many files, mutate, fold back into
    // one — content must be byte-identical to the uncompacted state.
    Q("q51_compact",
      """SELECT t.* FROM customer t
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM customer d
        |  WHERE d.c_acctbal < 0 AND d.c_custkey = t.c_custkey)
        |""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      val tbl = CowTable.replace(s, tableDir("q51"),
        TableConfig("customer", Seq("c_custkey")), c.repartition(8))
      tbl.delete(c.filter(col("c_acctbal") < 0))
      tbl.compact(smallBytes = Long.MaxValue, targetPartitions = 1)
      tbl.read()
    },

    // SNAPSHOT RECONCILIATION DIFF: key-level added/removed/changed
    // between two committed versions — the audit primitive CDC can't
    // answer once the feed is compacted. O(changed files): common COW
    // file paths are immutable ⇒ skipped wholesale; only files unique to
    // one manifest are read and full-outer key-compared (neighbors
    // rewritten verbatim compare equal and drop out). The oracle derives
    // the expected labels logically from the same mutation set.
    Q("q137_snapshot_diff",
      """WITH c AS (SELECT c_custkey FROM customer)
        |SELECT c_custkey + 1000000 AS c_custkey, 'added' AS change
        |  FROM c WHERE c_custkey % 13 = 0
        |UNION ALL SELECT c_custkey, 'removed' FROM c
        |  WHERE c_custkey % 11 = 0
        |UNION ALL SELECT c_custkey, 'changed' FROM c
        |  WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
        |""".stripMargin) { (s, d) =>
      val c = t(s, d, "customer")
      val tbl = CowTable.replace(s, tableDir("q137"),
        TableConfig("customer", Seq("c_custkey")), c.repartition(4))
      tbl.upsert(c.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 42, 2)))
      tbl.upsert(c.filter(col("c_custkey") % 13 === 0)
        .withColumn("c_custkey", col("c_custkey") + 1000000L))
      tbl.delete(c.filter(col("c_custkey") % 11 === 0)
        .select("c_custkey"))
      tbl.diffSnapshots(1, tbl.currentVersion)
    },

    // Incrementally-maintained materialized view (per-nation account
    // aggregate): bootstrap refresh, then upsert + delete on the base
    // applied as SIGNED change-feed deltas — O(changed rows), no base
    // rescan. DECIMAL state makes the incremental result bit-equal to the
    // oracle's from-scratch recompute of the final base snapshot.
    Q("q150_incremental_matview",
      """WITH c0 AS (SELECT c_custkey, c_nationkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
        |         ELSE c_acctbal END AS bal
        |  FROM customer WHERE c_custkey % 13 <> 0)
        |SELECT c_nationkey, count(*) AS n_rows,
        |  CAST(CAST(sum(CAST(bal AS DECIMAL(28,10))) AS DECIMAL(28,2))
        |    AS DOUBLE) AS sum_acctbal
        |FROM c0 GROUP BY 1
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q150")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val cust = t(s, d, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val base = CowTable(s, root + "/base",
        // CDF on: the MV refresh reads materialized ROW-exact change files
        // instead of reconstructing each commit's feed with a full-outer
        // join (guide §2.4 — and row-exact feeds also skip the COW churn
        // rows that could spuriously dirty min/max groups). Same result:
        // file-granularity churn cancels exactly in the signed fold.
        TableConfig("customer_base", Seq("c_custkey"),
          changeDataFeed = true))
      base.create(cust.repartition(4))
      val mv = graft.pipeline.MatView(s, root + "/mv", base,
        Seq("c_nationkey"), Seq("c_acctbal"))
      mv.refresh() // bootstrap
      base.upsert(cust.filter(col("c_custkey") % 7 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0))
      base.delete(cust.filter(col("c_custkey") % 13 === 0)
        .select("c_custkey"))
      mv.refresh() // two incremental versions, delta-applied
      // scale-2 pre-round before the double cast: see q161's comment
      // (scale-10 decimal→double drifts 1 ULP in DuckDB past ~9e5)
      mv.read().select(col("c_nationkey"), col("n_rows"),
        col("sum_c_acctbal").cast("decimal(28,2)").cast("double")
          .as("sum_acctbal"))
    },

    // Partition-spec evolution (Iceberg contract): table created hive-
    // partitioned by mktsegment, evolved to nationkey in a metadata-only
    // commit; the post-evolution upsert rewrites its rows under the NEW
    // layout while untouched files keep the old one — and a full read
    // recovers both partition columns across both layouts.
    Q("q153_partition_evolution",
      """SELECT c_custkey, c_name, c_nationkey,
        |  CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 50.0
        |       ELSE c_acctbal END AS c_acctbal,
        |  c_mktsegment
        |FROM customer
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q153")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val cust = t(s, d, "customer")
      val t0 = CowTable(s, root, TableConfig("customer", Seq("c_custkey"),
        partitionKey = Some("c_mktsegment")))
      t0.create(cust)
      val t1 = t0.alterPartitionKey(Some("c_nationkey"))
      t1.upsert(cust.filter(col("c_custkey") % 5 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 50.0))
      t1.read().select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
    },

    // Deletion-vector (merge-on-read) write lifecycle: two DV deletes
    // attach position sidecars WITHOUT rewriting any data file, a MOR
    // upsert marks preimage positions + appends the batch (re-inserting
    // batch keys the deletes removed — standard upsert semantics), then
    // purge materializes everything in a rewrite-only commit. All
    // asserted on the manifests; final content must equal the plain
    // filter+case.
    Q("q154_deletion_vectors",
      """SELECT c_custkey, c_name, c_nationkey,
        |  CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 50.0
        |       ELSE c_acctbal END AS c_acctbal,
        |  c_mktsegment
        |FROM customer
        |WHERE c_custkey % 5 = 0
        |   OR (c_custkey % 9 <> 0 AND c_custkey % 11 <> 0)
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q154")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val cust = t(s, d, "customer")
      val tbl = CowTable(s, root, TableConfig("customer", Seq("c_custkey"),
        changeDataFeed = true, deletionVectors = true))
      tbl.create(cust.repartition(4))
      val dataPaths = tbl.manifest(1).files.map(_.path).toSet
      tbl.delete(cust.filter(col("c_custkey") % 9 === 0)
        .select("c_custkey"))
      tbl.delete(cust.filter(col("c_custkey") % 11 === 0)
        .select("c_custkey"))
      val m = tbl.manifest(tbl.currentVersion)
      require(m.files.map(_.path).toSet == dataPaths,
        "DV deletes must not rewrite data files")
      require(m.files.exists(_.dvPath.isDefined), "expected live vectors")
      tbl.upsert(cust.filter(col("c_custkey") % 5 === 0)
        .withColumn("c_acctbal", col("c_acctbal") + 50.0))
      val m2 = tbl.manifest(tbl.currentVersion)
      require(dataPaths.subsetOf(m2.files.map(_.path).toSet),
        "MOR upsert must append, not rewrite")
      val v = tbl.purgeDeletionVectors()
      require(tbl.manifest(v).files.forall(_.dvPath.isEmpty),
        "purge must clear every vector")
      tbl.read().select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
    },

    // MIN/MAX materialized-view maintenance with rescan-on-retract: each
    // group's max is DELETED (the classically non-incremental case — the
    // dirty-group base re-aggregate), then new minima arrive via upsert
    // (the clean incremental least/greatest fold). Oracle = full recompute
    // over the mutated base.
    Q("q161_matview_minmax",
      """WITH ord AS (SELECT o_orderkey, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |del AS (
        |  SELECT min(o.o_orderkey) AS k FROM ord o
        |  JOIN (SELECT o_orderpriority AS p, max(o_totalprice) AS mx
        |        FROM ord GROUP BY 1) g
        |    ON o.o_orderpriority = g.p AND o.o_totalprice = g.mx
        |  GROUP BY o.o_orderpriority),
        |fin AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CASE WHEN o_orderkey % 13 = 0 THEN -1.0
        |         ELSE o_totalprice END AS price
        |  FROM ord
        |  WHERE o_orderkey % 13 = 0
        |     OR o_orderkey NOT IN (SELECT k FROM del))
        |SELECT o_orderpriority, count(*) AS n_rows,
        |  CAST(CAST(sum(CAST(price AS DECIMAL(28,10))) AS DECIMAL(28,2))
        |    AS DOUBLE) AS sum_price,
        |  min(price) AS min_price, max(price) AS max_price
        |FROM fin GROUP BY 1
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q161")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      // half the table (matching the oracle's ord CTE): the dirty/clean
      // refresh paths this query proves are group-granular, not
      // row-count-sensitive, and three full table lifecycles ride on it
      val ord = t(s, d, "orders")
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice").as("price"))
      val base = CowTable(s, root + "/base",
        // CDF on — same rationale as q150's base: row-exact feed beats
        // per-refresh full-outer reconstruction, and fewer spurious dirty
        // min/max groups means fewer base rescans. Result unchanged.
        TableConfig("orders_base", Seq("o_orderkey"),
          changeDataFeed = true))
      base.create(ord.repartition(4))
      val mv = graft.pipeline.MatView(s, root + "/mv", base,
        Seq("o_orderpriority"), Seq("price"), minMaxCols = Seq("price"))
      mv.refresh() // bootstrap
      // retract every group's max (tie-break: min key among argmax rows)
      val delKeys = ord.join(ord.groupBy("o_orderpriority")
          .agg(max("price").as("mx")), "o_orderpriority")
        .filter(col("price") === col("mx"))
        .groupBy("o_orderpriority").agg(min("o_orderkey").as("o_orderkey"))
        .select("o_orderkey")
      base.delete(delKeys)
      mv.refresh() // dirty-group rescan path
      base.upsert(ord.filter(col("o_orderkey") % 13 === 0)
        .withColumn("price", lit(-1.0)))
      mv.refresh() // clean incremental fold path
      // sum presented at scale 2 BEFORE the double cast: prices are
      // 2-decimal-exact in DECIMAL(28,10), and at scale 2 the unscaled
      // int stays < 2^53 so BOTH engines' decimal→double conversions are
      // exactly rounded (at scale 10 DuckDB's int128→double path drifts
      // 1 ULP on ~1e9-sized group sums — a latent driver hash-mismatch
      // caught by the sf0.1 stress verify)
      mv.read().select(col("o_orderpriority"), col("n_rows"),
        col("sum_price").cast("decimal(28,2)").cast("double")
          .as("sum_price"),
        col("min_price"), col("max_price"))
    },

    // SQL row-level ops on a deletion-vector table take the DELTA-BASED
    // path (SupportsDelta): DELETE marks positions in a sidecar, UPDATE
    // marks + appends the new rows — neither rewrites a data file (the
    // manifest asserts it). This is the reference's CDC apply statement
    // (src/delta/delta-cdc-load.py:121-141) with Delta's deletion-vector
    // write economics: O(matched rows) written, not O(touched file bytes).
    Q("q159_sql_dv_mutation",
      """SELECT c_custkey, c_name, c_nationkey,
        |  CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 50.0
        |       ELSE c_acctbal END AS c_acctbal,
        |  c_mktsegment
        |FROM customer
        |WHERE c_custkey % 9 <> 0
        |""".stripMargin) { (s, d) =>
      val lake = tableDir("q159")
      CowTable.deleteRecursively(java.nio.file.Paths.get(lake))
      val cust = t(s, d, "customer").select("c_custkey", "c_name",
        "c_nationkey", "c_acctbal", "c_mktsegment")
      val cfg = TableConfig("cust", Seq("c_custkey"),
        changeDataFeed = true, deletionVectors = true)
      val tbl = CowTable(s, lake + "/cust", cfg)
      tbl.create(cust.repartition(4))
      graft.storage.LakeRegistry.register(lake, cfg, lake + "/cust")
      val dataPaths = tbl.manifest(1).files.map(_.path).toSet
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
      sess.sql("DELETE FROM lake.default.cust WHERE c_custkey % 9 = 0")
      val m2 = tbl.manifest(tbl.currentVersion)
      require(m2.files.map(_.path).toSet == dataPaths,
        "SQL DELETE on a DV table must not rewrite any data file")
      require(m2.files.exists(_.dvPath.isDefined),
        "SQL DELETE must attach deletion vectors")
      sess.sql("UPDATE lake.default.cust SET c_acctbal = c_acctbal + 50.0 " +
        "WHERE c_custkey % 5 = 0")
      val m3 = tbl.manifest(tbl.currentVersion)
      require(dataPaths.subsetOf(m3.files.map(_.path).toSet),
        "SQL UPDATE on a DV table must append, not rewrite")
      require(m3.files.exists(e => !dataPaths(e.path)),
        "SQL UPDATE must land its new rows as fresh files")
      tbl.read().select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
    },

    // GROUPED manifest aggregate pushdown: per-partition COUNT(*) +
    // MIN/MAX of the key (GROUP BY the hive partition key) answered
    // driver-locally from path values + footer stats — the most common
    // lake metadata rollup, zero data files opened (plan-asserted).
    Q("q160_partition_rollup",
      """SELECT c_mktsegment, count(*) AS n_rows,
        |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
        |FROM customer GROUP BY c_mktsegment
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q160")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      CowTable(s, root, TableConfig("customer", Seq("c_custkey"),
        partitionKey = Some("c_mktsegment")))
        .create(t(s, d, "customer").repartition(4))
      val out = s.read.format("graft").load(root)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("c_custkey")).as("min_key"),
          max(col("c_custkey")).as("max_key"))
      require(out.queryExecution.executedPlan.toString
        .contains("manifest_agg_"),
        "expected the grouped aggregation answered from the manifest")
      out
    },

    // PARTITION-SCOPED metadata count: the WHERE on the hive key is
    // CONSUMED exactly (every file carries a path value, a file's rows
    // all share it), emptying the residual so the grouped COUNT answers
    // from the pruned manifest — "count yesterday's partition" with zero
    // data files opened (plan-asserted).
    Q("q162_partition_scoped_count",
      """SELECT c_mktsegment, count(*) AS n_rows
        |FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |GROUP BY c_mktsegment
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q162")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      CowTable(s, root, TableConfig("customer", Seq("c_custkey"),
        partitionKey = Some("c_mktsegment")))
        .create(t(s, d, "customer").repartition(4))
      val out = s.read.format("graft").load(root)
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"))
      require(out.queryExecution.executedPlan.toString
        .contains("manifest_agg_"),
        "expected the filtered grouped count answered from the manifest")
      out
    },

    // Manifest aggregate pushdown through the DSv2 surface: COUNT(*) +
    // MIN/MAX of the key answered as a driver-local row (plan-asserted:
    // zero data files opened).
    Q("q158_manifest_agg",
      """SELECT count(*) AS n_rows, min(c_custkey) AS min_key,
        |  max(c_custkey) AS max_key
        |FROM customer
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q158")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      CowTable(s, root, TableConfig("customer", Seq("c_custkey")))
        .create(t(s, d, "customer").repartition(4))
      val out = s.read.format("graft").load(root)
        .agg(count(lit(1)).as("n_rows"),
          min(col("c_custkey")).as("min_key"),
          max(col("c_custkey")).as("max_key"))
      require(out.queryExecution.executedPlan.toString
        .contains("manifest_agg_"),
        "expected the aggregation answered from the manifest")
      out
    },

    // statsColumns extrema from the manifest: per-partition MIN/MAX of
    // NON-KEY columns (a timestamp and a double) answered from the
    // per-file footer ranges the manifest already carries for declared
    // statsColumns — "freshness per partition" ("max event time per type"),
    // the second most common lake metadata rollup after row counts, zero
    // data files opened (plan-asserted). min(value) is deliberately NOT
    // pushed at sf0.1 (the data holds 0.0 values and a zero FP extremum is
    // sign-ambiguous in parquet stats — the engine must reject, not guess).
    Q("q194_statscol_rollup",
      """SELECT event_type, count(*) AS n_rows,
        |  min(ts) AS min_ts, max(ts) AS max_ts, max(value) AS max_val
        |FROM events GROUP BY event_type
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q194")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      CowTable(s, root, TableConfig("events", Seq("event_id"),
        partitionKey = Some("event_type"),
        statsColumns = Seq("ts", "value")))
        .create(t(s, d, "events").repartition(4))
      val out = s.read.format("graft").load(root)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
          max(col("value")).as("max_val"))
      require(out.queryExecution.executedPlan.toString
        .contains("manifest_agg_"),
        "expected the statsColumn extrema answered from the manifest")
      out
    },

    // ADD COLUMN ... DEFAULT (initial-default semantics, Iceberg V3 /
    // Spark EXISTS_DEFAULT): the metadata-only ALTER makes every PRE-ADD
    // row read the default with ZERO data rewritten (require-asserted);
    // post-add INSERTs resolve the default when the column is omitted or
    // the DEFAULT keyword is used, and an explicit NULL stays NULL —
    // "stored null" and "file predates the column" never conflate.
    // Oracle replays: old rows get the default, new rows their literals.
    Q("q195_column_default",
      """SELECT c_custkey, c_name, 'standard' AS tier, 'silver' AS grade
        |  FROM customer
        |UNION ALL SELECT 900001 AS c_custkey, 'x1' AS c_name,
        |  'standard' AS tier, 'silver' AS grade
        |UNION ALL SELECT 900002, 'x2', 'gold', 'silver'
        |UNION ALL SELECT 900003, 'x3', CAST(NULL AS VARCHAR), 'silver'
        |UNION ALL SELECT 900004, 'x4', 'standard', 'silver'
        |""".stripMargin) { (s, d) =>
      val lake = tableDir("q195")
      CowTable.deleteRecursively(java.nio.file.Paths.get(lake))
      val tbl = CowTable(s, lake + "/cust_def",
        TableConfig("cust_def", Seq("c_custkey")))
      tbl.create(t(s, d, "customer").select("c_custkey", "c_name"))
      graft.storage.LakeRegistry.register(lake, tbl.config, "cust_def")
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
      val filesBefore = tbl.manifest(tbl.currentVersion).files.map(_.path)
      sess.sql("ALTER TABLE lake.default.cust_def " +
        "ADD COLUMN tier STRING DEFAULT 'standard'")
      require(tbl.manifest(tbl.currentVersion).files.map(_.path) ==
        filesBefore && !tbl.manifest(tbl.currentVersion).dataChange,
        "ADD COLUMN DEFAULT must be metadata-only — zero files rewritten")
      sess.sql("INSERT INTO lake.default.cust_def (c_custkey, c_name) " +
        "VALUES (900001, 'x1')") // omitted column → default
      sess.sql("INSERT INTO lake.default.cust_def " +
        "VALUES (900002, 'x2', 'gold'), (900003, 'x3', NULL)")
      // EXPRESSION-valued default: folds at ALTER time to its constant —
      // every pre-add row (incl. the three inserts above) reads 'silver'
      sess.sql("ALTER TABLE lake.default.cust_def ADD COLUMN grade " +
        "STRING DEFAULT concat('si', lower('LVER'))")
      sess.sql("INSERT INTO lake.default.cust_def (c_custkey, c_name) " +
        "VALUES (900004, 'x4')") // both defaults resolve
      sess.sql("SELECT c_custkey, c_name, tier, grade " +
        "FROM lake.default.cust_def")
    },

    // NULL-COUNT statistics: per-file footer null counts ride the manifest
    // for key + statsColumns, giving (a) COUNT(col) — the null-excluding
    // count — answered with ZERO data files opened (plan-asserted), and
    // (b) `IS [NOT] NULL` FILE SKIPPING (a no-null file can't satisfy IS
    // NULL; an all-null file can't satisfy IS NOT NULL) — the "rows missing
    // an annotation" scan a curation pipeline runs constantly. A synthetic
    // all-null append makes both observable; oracle replays the arithmetic.
    Q("q196_null_stats",
      """SELECT CAST((SELECT count(*) FROM customer) +
        |  (SELECT count(*) FROM customer WHERE c_custkey % 131 = 0)
        |  AS BIGINT) AS n_all,
        |  CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_bal,
        |  CAST((SELECT count(*) FROM customer WHERE c_custkey % 131 = 0)
        |  AS BIGINT) AS n_null
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q196")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val tbl = CowTable(s, root, TableConfig("cust_ns", Seq("c_custkey"),
        statsColumns = Seq("c_acctbal")))
      tbl.create(t(s, d, "customer")
        .select("c_custkey", "c_name", "c_acctbal").repartition(4))
      // synthetic un-priced rows (fresh keys → their own files, all-null).
      // The offset must clear ANY scale's key range (the sf1 stress pass
      // replicates keys to ~9e8; an in-range offset would make the upsert
      // REWRITE the base files and leave no no-null file to skip)
      tbl.upsert(t(s, d, "customer").filter(col("c_custkey") % 131 === 0)
        .select((col("c_custkey") + 1000000000000L).as("c_custkey"),
          col("c_name"),
          lit(null).cast(tbl.read().schema("c_acctbal").dataType)
            .as("c_acctbal")))
      val df = s.read.format("graft").load(root)
      val agg = df.agg(count(lit(1)).as("n_all"),
        count(col("c_acctbal")).as("n_bal"))
      require(agg.queryExecution.executedPlan.toString
        .contains("manifest_agg_"),
        "expected COUNT(col) answered from footer null counts")
      // the IS NULL scan must SKIP every no-null file (only the appended
      // all-null files survive pruning)
      val nullScan = df.filter(col("c_acctbal").isNull)
      val desc = nullScan.queryExecution.executedPlan.toString
      require("files=(\\d+)/(\\d+)".r.findFirstMatchIn(desc).exists(mm =>
        mm.group(1).toInt < mm.group(2).toInt),
        s"expected IS NULL to skip no-null files in:\n$desc")
      agg.crossJoin(nullScan.agg(count(lit(1)).as("n_null")))
    },

    // STREAMING WRITE-AUDIT-PUBLISH: every micro-batch stages on a fresh
    // BRANCH, the expectation audit runs against the STAGED state, and
    // only a clean batch fast-forwards onto main — a poisoned batch drops
    // its branch whole and main never serves a single unaudited row (the
    // per-batch WAP loop Iceberg documents as its streaming-audit
    // pattern). Bucket 1's batch carries injected negative values → its
    // ENTIRE batch is rejected; buckets 0 and 2 publish. One file per
    // bucket + maxFilesPerTrigger(1) pins batch = bucket, so the oracle
    // replays exactly: initial slice + clean buckets of the stream slice.
    Q("q197_stream_wap",
      s"""SELECT event_id, user_id, event_type, value FROM events
         |WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
         |UNION ALL
         |SELECT event_id, user_id, event_type, value FROM events
         |WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' AND user_id % 3 <> 1
         |""".stripMargin) { (s, d) =>
      val base = tableDir("q197")
      CowTable.deleteRecursively(java.nio.file.Paths.get(base))
      val cut = lit("2024-01-15 00:00:00").cast("timestamp")
      val cols = Seq("event_id", "user_id", "event_type", "value")
      val main = CowTable(s, base + "/main",
        TableConfig("ev_wap", Seq("event_id")))
      main.create(t(s, d, "events").filter(col("ts") < cut)
        .select(cols.map(col): _*))
      // stream source: one file per bucket; bucket 1 poisoned upstream
      val src = base + "/src"
      t(s, d, "events").filter(col("ts") >= cut)
        .withColumn("bucket", col("user_id") % 3)
        .withColumn("value",
          when(col("user_id") % 3 === 1 && col("event_id") % 7 === 0,
            lit(-1.0)).otherwise(col("value")))
        .select(col("bucket") +: cols.map(col): _*)
        .repartition(1)
        .write.partitionBy("bucket").mode("overwrite").parquet(src)
      val schema = org.apache.spark.sql.types.StructType(
        main.read().schema.fields)
      var published = 0
      var rejected = 0
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val name = s"ing$id"
          val b = main.createBranch(name) // WRITE on the audited fork
          b.upsert(batch.select(cols.map(col): _*))
          // AUDIT the staged state; PUBLISH only a clean batch
          if (b.read().filter(col("value") < 0).isEmpty) {
            main.fastForward(name); published += 1
          } else rejected += 1
          main.dropBranch(name)
          ()
        }
        .option("checkpointLocation", base + "/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      require(published == 2 && rejected == 1,
        s"expected 2 published + 1 rejected batches, got $published/$rejected")
      main.read().select(cols.map(col): _*)
    },

    // PERSISTED LAKE VIEWS: `CALL lake.create_view` validates the
    // definition by analysis and stores it durably in the warehouse;
    // SELECT expands it through the GraftExtensions resolution rule
    // (vanilla Spark 4.1 routes neither view DDL nor reads to a DSv2
    // ViewCatalog — graft installs the rule the public lake engines do).
    // Views COMPOSE (a view over a view) and track the BASE TABLE: rows
    // inserted after create are visible. Oracle replays the nested
    // predicate stack over the post-insert state.
    Q("q198_lake_views",
      """SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
        |FROM (SELECT c_custkey, c_name, c_acctbal FROM customer
        |      UNION ALL SELECT 700001, 'late', 5000.00)
        |WHERE c_acctbal > 1000 AND c_custkey % 2 = 0
        |""".stripMargin) { (s, d) =>
      val lake = tableDir("q198")
      CowTable.deleteRecursively(java.nio.file.Paths.get(lake))
      val tbl = CowTable(s, lake + "/cust_v",
        TableConfig("cust_v", Seq("c_custkey")))
      tbl.create(t(s, d, "customer")
        .select("c_custkey", "c_name", "c_acctbal"))
      graft.storage.LakeRegistry.register(lake, tbl.config, "cust_v")
      // view resolution needs the extension — build a sibling session of
      // the main session shape on the same SparkContext, restoring the
      // verify session afterwards
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      val es = graft.core.SessionTuning
        .builder(defaultCpus = s.sparkContext.defaultParallelism)
        .getOrCreate()
      try {
        es.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
        es.conf.set("spark.sql.catalog.lake.warehouse", lake)
        // created with a DELIBERATELY WRONG threshold, then ATOMICALLY
        // redefined (CALL lake.replace_view = ALTER VIEW ... AS, one
        // commit, no drop/create gap) — the read below matches the oracle
        // only if the replaced definition is what resolution expands
        es.sql("CALL lake.create_view('bigcust', 'SELECT c_custkey, " +
          "c_name, c_acctbal FROM lake.default.cust_v " +
          "WHERE c_acctbal > 999999')")
        es.sql("CALL lake.create_view('even_big', " +
          "'SELECT * FROM lake.default.bigcust WHERE c_custkey % 2 = 0')")
        es.sql("CALL lake.replace_view('bigcust', 'SELECT c_custkey, " +
          "c_name, c_acctbal FROM lake.default.cust_v " +
          "WHERE c_acctbal > 1000')")
        // the views track the base table — a later insert is visible
        es.sql("INSERT INTO lake.default.cust_v VALUES " +
          "(700001, 'late', 5000.00)")
        require(es.sql("CALL lake.list_views()").collect()
          .map(_.getString(0)).toSeq == Seq("bigcust", "even_big"),
          "both view definitions must be listed")
        es.sql("SELECT c_custkey, c_name, " +
          "CAST(c_acctbal AS DOUBLE) AS c_acctbal " +
          "FROM lake.default.even_big")
      } finally {
        org.apache.spark.sql.SparkSession.setDefaultSession(s)
        org.apache.spark.sql.SparkSession.setActiveSession(s)
      }
    },

    // INTEGRITY VALIDATION (fsck) after a full mutation lifecycle:
    // create → upsert → DV delete → optimize → purge must leave a table
    // whose manifest matches the filesystem byte-for-byte (files, DV
    // sidecars, footer row counts) and whose primary key stayed unique —
    // the invariants every pruning/merge shortcut in the engine assumes.
    // The oracle is the all-ok verdict (the lifecycle is the test).
    Q("q202_validate",
      """SELECT 'dv_sidecars_exist' AS check, TRUE AS ok
        |UNION ALL SELECT 'files_exist', TRUE
        |UNION ALL SELECT 'key_unique', TRUE
        |UNION ALL SELECT 'row_counts_match', TRUE
        |""".stripMargin) { (s, d) =>
      val dir = tableDir("q202") + "/cust_fsck"
      CowTable.deleteRecursively(java.nio.file.Paths.get(dir).getParent)
      val t0 = CowTable(s, dir, TableConfig("cust_fsck", Seq("c_custkey"),
        changeDataFeed = true, deletionVectors = true))
      t0.create(t(s, d, "customer")
        .select("c_custkey", "c_name", "c_acctbal").repartition(4))
      t0.upsert(t(s, d, "customer").filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal") + 7, 2).as("c_acctbal")))
      t0.delete(t(s, d, "customer").filter(col("c_custkey") % 11 === 0)
        .select("c_custkey"))
      t0.optimize()
      t0.purgeDeletionVectors()
      t0.validate().select("check", "ok")
    },

    // HIDDEN-PARTITIONING MUTATIONS (round 13, VERDICT r12 #5): the full
    // SQL row-level surface on a `day(ts)`-partitioned table — exactly what
    // Iceberg's partition transforms exist for (the reference's CDC apply
    // IS a MERGE, iceberg-cdc-load.py:130-150, and its tables are the kind
    // that get `PARTITIONED BY (days(ts))`). The MERGE updates values AND
    // moves matched rows' ts +3 days — the rewritten rows must land in the
    // NEW day's hive dir (generated column re-derived by TransformRecompute
    // inside the write plan, never trusted from the writer: the source
    // carries a deliberately WRONG ts_day the engine must override). A
    // DELETE then drops a whole event class. Source-predicate pruning is
    // plan-asserted after the mutations; the oracle replays the lifecycle
    // relationally.
    Q("q203_hidden_partition_merge",
      """WITH base AS (
        |  SELECT event_id, user_id, event_type, value,
        |         CAST(ts AS TIMESTAMP) AS ts
        |  FROM events
        |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
        |    AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-20 00:00:00'),
        |upd AS (
        |  SELECT event_id, value + 1000 AS value,
        |         CAST(ts AS TIMESTAMP) + INTERVAL 3 DAY AS ts
        |  FROM events
        |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-12 00:00:00'
        |    AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-14 00:00:00'),
        |ins AS (
        |  SELECT event_id + 10000000 AS event_id, user_id, event_type,
        |         value + 2000 AS value, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events
        |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16 00:00:00'
        |    AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-17 00:00:00'),
        |merged AS (
        |  SELECT b.event_id, b.user_id, b.event_type,
        |         COALESCE(u.value, b.value) AS value,
        |         COALESCE(u.ts, b.ts) AS ts
        |  FROM base b LEFT JOIN upd u ON b.event_id = u.event_id
        |  UNION ALL
        |  SELECT event_id, user_id, event_type, value, ts FROM ins)
        |SELECT event_id, user_id, event_type, value, ts,
        |       CAST(ts AS DATE) AS ts_day
        |FROM merged WHERE event_type <> 'error'
        |""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.Column
      val root = tableDir("q203")
      val ev = t(s, d, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
      def slice(lo: String, hi: String): DataFrame = ev.filter(
        col("ts") >= lit(lo).cast("timestamp") &&
          col("ts") < lit(hi).cast("timestamp"))
      val tbl = CowTable.replace(s, root,
        TableConfig("events_hpm", Seq("event_id"),
          partitionSpec = Some("day(ts)")),
        slice("2024-01-10 00:00:00", "2024-01-20 00:00:00"))
      val wrongDay: Column = lit("1999-01-01").cast("date")
      slice("2024-01-12 00:00:00", "2024-01-14 00:00:00")
        .select(col("event_id"), col("user_id"), col("event_type"),
          (col("value") + 1000).as("value"),
          (col("ts") + expr("INTERVAL 3 DAYS")).as("ts"))
        .unionByName(
          slice("2024-01-16 00:00:00", "2024-01-17 00:00:00")
            .select((col("event_id") + 10000000L).as("event_id"),
              col("user_id"), col("event_type"),
              (col("value") + 2000).as("value"), col("ts")))
        .withColumn("ts_day", wrongDay)
        .createOrReplaceTempView("q203_src")
      s.sql("DROP TABLE IF EXISTS q203_t")
      s.sql(s"CREATE TABLE q203_t USING graft LOCATION '$root'")
      s.sql(
        """MERGE INTO q203_t t USING q203_src s ON t.event_id = s.event_id
          |WHEN MATCHED THEN UPDATE SET t.value = s.value, t.ts = s.ts
          |WHEN NOT MATCHED THEN INSERT *
          |""".stripMargin)
      s.sql("DELETE FROM q203_t WHERE event_type = 'error'")
      s.sql("DROP TABLE IF EXISTS q203_t")
      val m = tbl.manifest(tbl.currentVersion)
      require(m.files.forall(e => !e.path.contains("1999-01-01")),
        "generated column must be re-derived, not trusted from the source")
      // source-predicate partition pruning must survive the mutations
      val probe = s.read.format("graft").load(root)
        .filter(col("ts") >= lit("2024-01-19 00:00:00").cast("timestamp"))
      val plan = probe.queryExecution.executedPlan.toString
      val fm = """files=(\d+)/(\d+)""".r.findFirstMatchIn(plan)
        .getOrElse(throw new IllegalStateException(
          s"no manifest scan in plan:\n$plan"))
      require(fm.group(1).toInt < fm.group(2).toInt,
        s"hidden partitioning must still prune, got files=${fm.group(0)}")
      s.read.format("graft").load(root)
        .select("event_id", "user_id", "event_type", "value", "ts", "ts_day")
    },

    // DV-TABLE MERGE THROUGH THE DELTA PATH (round 13, VERDICT r12 #6): a
    // mixed UPDATE/DELETE/INSERT MERGE on a deletion-vector table must
    // rewrite NO data file — deletes and update-preimages become positions
    // in a sidecar, updated/inserted rows land in fresh files (require-
    // asserted against the manifest below). This is the reference's CDC
    // MERGE statement (delta-cdc-load.py:121-141) at Delta's
    // deletion-vector write economics: a 100-row batch against a 100 TB
    // table costs O(matched rows), not O(touched file bytes).
    Q("q204_dv_merge",
      """WITH base AS (
        |  SELECT c_custkey, c_name, c_acctbal FROM customer)
        |SELECT c_custkey, c_name,
        |       CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100
        |            ELSE c_acctbal END AS c_acctbal
        |FROM base WHERE c_custkey % 11 <> 0
        |UNION ALL
        |SELECT c_custkey + 1000000, c_name, 0.0 AS c_acctbal
        |FROM base WHERE c_custkey % 13 = 0
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q204")
      val cust = t(s, d, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
      val tbl = CowTable.replace(s, root,
        TableConfig("cust_dvm", Seq("c_custkey"), clusterByKey = true,
          changeDataFeed = true, deletionVectors = true),
        cust.repartition(4))
      val before = tbl.manifest(tbl.currentVersion).files.map(_.path).toSet
      cust.filter(col("c_custkey") % 11 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          lit("D").as("op"))
        .unionByName(cust.filter(
          col("c_custkey") % 7 === 0 && col("c_custkey") % 11 =!= 0)
          .select(col("c_custkey"), col("c_name"),
            (col("c_acctbal") + 100).as("c_acctbal"), lit("U").as("op")))
        .unionByName(cust.filter(col("c_custkey") % 13 === 0)
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            col("c_name"), lit(0.0).as("c_acctbal"), lit("I").as("op")))
        .createOrReplaceTempView("q204_src")
      s.sql("DROP TABLE IF EXISTS q204_t")
      s.sql(s"CREATE TABLE q204_t USING graft LOCATION '$root'")
      s.sql(
        """MERGE INTO q204_t t USING q204_src s
          |ON t.c_custkey = s.c_custkey
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET t.c_acctbal = s.c_acctbal
          |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal)
          |  VALUES (s.c_custkey, s.c_name, s.c_acctbal)
          |""".stripMargin)
      s.sql("DROP TABLE IF EXISTS q204_t")
      val after = tbl.manifest(tbl.currentVersion).files
      require(before.subsetOf(after.map(_.path).toSet),
        "DV MERGE must rewrite no data file (delta path): dropped " +
          before.diff(after.map(_.path).toSet).toString)
      require(after.exists(_.dvPath.isDefined),
        "DV MERGE must mark deleted/updated positions in a sidecar")
      tbl.read().select("c_custkey", "c_name", "c_acctbal")
    },

    // DELETION VECTORS ON A HIDDEN-PARTITIONING TABLE (round 13): the two
    // features compose — Iceberg tables are routinely BOTH
    // `PARTITIONED BY (days(ts))` AND mutated with positional deletes. The
    // delta path writes only sidecars + fresh files, and the fresh files'
    // generated column is re-derived inside the write plan
    // (TransformRecompute on WriteDelta), so updated rows land in their
    // derived day dirs while the old day's file is never rewritten: a
    // cross-day "move" costs one position mark + one small file. Both
    // manifest-asserted below; pruning re-asserted post-mutation.
    Q("q205_dv_hidden_partition",
      """WITH base AS (
        |  SELECT event_id, user_id, event_type, value,
        |         CAST(ts AS TIMESTAMP) AS ts
        |  FROM events
        |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
        |    AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-20 00:00:00'),
        |upd AS (
        |  SELECT event_id, value + 500 AS value,
        |         CAST(ts AS TIMESTAMP) + INTERVAL 3 DAY AS ts
        |  FROM events
        |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-12 00:00:00'
        |    AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-14 00:00:00'),
        |merged AS (
        |  SELECT b.event_id, b.user_id, b.event_type,
        |         COALESCE(u.value, b.value) AS value,
        |         COALESCE(u.ts, b.ts) AS ts
        |  FROM base b LEFT JOIN upd u ON b.event_id = u.event_id)
        |SELECT event_id, user_id, event_type, value, ts,
        |       CAST(ts AS DATE) AS ts_day
        |FROM merged WHERE event_type <> 'error'
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q205")
      val ev = t(s, d, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
      def slice(lo: String, hi: String): DataFrame = ev.filter(
        col("ts") >= lit(lo).cast("timestamp") &&
          col("ts") < lit(hi).cast("timestamp"))
      val tbl = CowTable.replace(s, root,
        TableConfig("events_dvhp", Seq("event_id"),
          partitionSpec = Some("day(ts)"),
          changeDataFeed = true, deletionVectors = true),
        slice("2024-01-10 00:00:00", "2024-01-20 00:00:00"))
      val before = tbl.manifest(tbl.currentVersion).files.map(_.path).toSet
      slice("2024-01-12 00:00:00", "2024-01-14 00:00:00")
        .select(col("event_id"), (col("value") + 500).as("value"),
          (col("ts") + expr("INTERVAL 3 DAYS")).as("ts"))
        .withColumn("ts_day", lit("1999-01-01").cast("date"))
        .createOrReplaceTempView("q205_src")
      s.sql("DROP TABLE IF EXISTS q205_t")
      s.sql(s"CREATE TABLE q205_t USING graft LOCATION '$root'")
      s.sql(
        """MERGE INTO q205_t t USING q205_src s ON t.event_id = s.event_id
          |WHEN MATCHED THEN UPDATE SET t.value = s.value, t.ts = s.ts
          |""".stripMargin)
      s.sql("DELETE FROM q205_t WHERE event_type = 'error'")
      s.sql("DROP TABLE IF EXISTS q205_t")
      val m = tbl.manifest(tbl.currentVersion)
      require(before.subsetOf(m.files.map(_.path).toSet),
        "DV+transform mutations must rewrite no data file: dropped " +
          before.diff(m.files.map(_.path).toSet).toString)
      require(m.files.exists(_.dvPath.isDefined),
        "DV+transform mutations must mark positions in a sidecar")
      require(m.files.forall(e => !e.path.contains("1999-01-01")),
        "generated column must be re-derived, not trusted from the source")
      val probe = s.read.format("graft").load(root)
        .filter(col("ts") >= lit("2024-01-19 00:00:00").cast("timestamp"))
      val plan = probe.queryExecution.executedPlan.toString
      val fm = """files=(\d+)/(\d+)""".r.findFirstMatchIn(plan)
        .getOrElse(throw new IllegalStateException(
          s"no manifest scan in plan:\n$plan"))
      require(fm.group(1).toInt < fm.group(2).toInt,
        s"hidden partitioning must still prune, got files=${fm.group(0)}")
      s.read.format("graft").load(root)
        .select("event_id", "user_id", "event_type", "value", "ts", "ts_day")
    },

    // CDF TIMESTAMP WINDOWING (round 13, Delta startingTimestamp/
    // endingTimestamp option parity): q109's change set, but the window is
    // expressed in COMMIT TIME — an injected deterministic clock stamps
    // v1/v2/v3 at 10:00/11:00/12:00 UTC and the feed is windowed to
    // [10:30, 11:30], which must resolve to exactly v2 (earliest commit
    // at-or-after the start, latest at-or-before the end). Only the option
    // resolution differs from q109; the semantics must not.
    Q("q206_cdf_timestamp_window",
      """SELECT c_custkey, round(c_acctbal + 50, 2) AS c_acctbal,
        |  CAST(2 AS INT) AS _commit_version,
        |  'update_postimage' AS _change_type
        |FROM customer WHERE c_custkey % 17 = 0
        |UNION ALL
        |SELECT c_custkey, c_acctbal, CAST(2 AS INT), 'update_preimage'
        |FROM customer WHERE c_custkey % 17 = 0
        |""".stripMargin) { (s, d) =>
      val base = tableDir("q206")
      CowTable.deleteRecursively(java.nio.file.Paths.get(base))
      val c = t(s, d, "customer").select("c_custkey", "c_acctbal")
      def utcMs(str: String): Long = java.time.LocalDateTime
        .parse(str.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      val times = Seq("2024-05-01 10:00:00", "2024-05-01 11:00:00",
        "2024-05-01 12:00:00").map(utcMs)
      val tick = new java.util.concurrent.atomic.AtomicInteger(0)
      val tbl = CowTable(s, base,
        TableConfig("cust_cdf_ts", Seq("c_custkey"), changeDataFeed = true))
        .withClock(() => times(math.min(tick.getAndIncrement(), 2)))
      tbl.create(c)                                            // v1 @ 10:00
      tbl.upsert(c.filter(col("c_custkey") % 17 === 0)         // v2 @ 11:00
        .withColumn("c_acctbal", round(col("c_acctbal") + 50, 2)))
      tbl.delete(c.filter(col("c_custkey") % 23 === 0)         // v3 @ 12:00
        .select("c_custkey"))
      s.read.format("graft")
        .option("readChangeFeed", "true")
        .option("startingTimestamp", "2024-05-01 10:30:00")
        .option("endingTimestamp", "2024-05-01 11:30:00")
        .load(base)
        .select(col("c_custkey"), col("c_acctbal"),
          col("_commit_version"), col("_change_type"))
    },

    // METADATA-ONLY DELETE (round 15, oracle-gating round 14's
    // SupportsDeleteV2 path — the retention-job shape of the reference's
    // CDC table lifecycle, where Iceberg/Delta answer day-aligned
    // `DELETE WHERE ts < X` in O(metadata); cf.
    // /root/reference/src/iceberg/iceberg-cdc-load.py:130-150). The cut
    // must become ONE manifest commit: zero data read, zero data written,
    // covered day dirs dropped, a dropped entry's DV sidecar dropped with
    // it — all manifest-asserted below. The returned frame is the change
    // feed across the MIXED range (materialized-CDF row-level DV delete at
    // v2, metadata-only drop at v3), which DuckDB replays row-exactly.
    Q("q207_metadata_delete",
      """WITH base AS (
        |  SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events
        |  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15 00:00:00')
        |SELECT event_id, event_type,
        |       'delete' AS _change_type, CAST(2 AS INT) AS _commit_version
        |FROM base WHERE event_type = 'error'
        |UNION ALL
        |SELECT event_id, event_type,
        |       'delete' AS _change_type, CAST(3 AS INT) AS _commit_version
        |FROM base WHERE event_type <> 'error'
        |  AND ts < TIMESTAMP '2024-01-05 00:00:00'
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q207")
      val ev = t(s, d, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
        .filter(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
      val tbl = CowTable.replace(s, root,
        TableConfig("events_mdel", Seq("event_id"),
          partitionSpec = Some("day(ts)"),
          changeDataFeed = true, deletionVectors = true), ev)     // v1
      s.sql("DROP TABLE IF EXISTS q207_t")
      s.sql(s"CREATE TABLE q207_t USING graft LOCATION '$root'")
      // row-level DV delete first (not metadata-decidable): sidecars land
      // in the soon-to-be-dropped early days, materialized CDF at v2
      s.sql("DELETE FROM q207_t WHERE event_type = 'error'")      // v2
      val mid = tbl.manifest(2)
      require(mid.files.exists(_.dvPath.isDefined),
        "row-level delete must vector positions, not rewrite")
      val before = mid.files
      // day-aligned retention cut: every file decides All-or-No from the
      // manifest alone (day-dir values; DV stats are a safe superset) —
      // metadata-only, exactly one commit
      s.sql("DELETE FROM q207_t WHERE ts < TIMESTAMP '2024-01-05 00:00:00'")
      s.sql("DROP TABLE IF EXISTS q207_t")
      val fin = tbl.manifest(tbl.currentVersion)
      require(fin.version == 3,
        s"metadata delete must be exactly one commit, got v${fin.version}")
      require(fin.files.map(_.path).toSet.subsetOf(
        before.map(_.path).toSet),
        "metadata delete must write no data file")
      require(fin.files.forall(e =>
        !e.path.matches(""".*ts_day=2024-01-0[1-4]/.*""")),
        "all covered day dirs must drop")
      require(before.exists(e => e.dvPath.isDefined &&
        !fin.files.exists(_.path == e.path)),
        "a dropped entry must take its DV sidecar with it")
      tbl.readChangeFeed(1, 3)
        .select(col("event_id"), col("event_type"),
          col("_change_type"), col("_commit_version"))
    },

    // HOUR-GRAIN HIDDEN PARTITIONING (round 15 — Iceberg's hours(ts)
    // transform, the grain streaming ingest lands at before daily
    // compaction rolls it up): q173's shape one level finer. The
    // generated column is a zero-padded 'yyyy-MM-dd-HH' string (lexical
    // order = temporal order), derived in the commit funnel, and scans
    // prune hour dirs from SOURCE-timestamp predicates (require-asserted).
    // The base slice keeps the dir count bounded (3 days = ≤72 hour dirs).
    Q("q208_hour_partitioning",
      """SELECT event_id, user_id, event_type, value,
        |  CAST(ts AS TIMESTAMP) AS ts,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d-%H') AS ts_hour
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-30 12:00:00'
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q208")
      CowTable.replaceIfChanged(s, root,
        TableConfig("events_hourly", Seq("event_id"),
          partitionSpec = Some("hour(ts)")),
        contentSig = d,
        t(s, d, "events")
          .select("event_id", "user_id", "event_type", "value", "ts")
          .filter(col("ts") >= lit("2024-01-28 00:00:00").cast("timestamp")))
      val scan = s.read.format("graft").load(root)
        .filter(col("ts") >= lit("2024-01-30 12:00:00").cast("timestamp"))
      val plan = scan.queryExecution.executedPlan.toString
      val m = """files=(\d+)/(\d+)""".r.findFirstMatchIn(plan)
        .getOrElse(throw new IllegalStateException(
          s"no manifest scan in plan:\n$plan"))
      require(m.group(1).toInt < m.group(2).toInt,
        s"hidden partitioning must prune hour files, got files=${m.group(0)}")
      scan.select("event_id", "user_id", "event_type", "value", "ts",
        "ts_hour")
    },

    // TOPN PUSHDOWN (round 15 — SupportsPushDownTopN): the "latest N
    // events" timeline read every lake dashboard runs (the reference's
    // ordered `_commit_time` scans, /root/reference/src/hudi/
    // hudi-cdc-load.py:131). `ORDER BY ts DESC LIMIT 50` on a
    // day-partitioned, ts-statted table must certify a manifest-level
    // threshold and read only the tail-day files — at 100 TB the
    // difference between scanning everything and scanning two files.
    // Pruning is partial (Spark keeps the global sort), so the DuckDB
    // replay is row-exact by construction; the event_id tiebreak makes
    // the top-50 SET unique.
    Q("q210_topn_pushdown",
      """SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |FROM events
        |ORDER BY ts DESC NULLS LAST, event_id
        |LIMIT 50""".stripMargin) { (s, d) =>
      val root = tableDir("q210")
      CowTable.replaceIfChanged(s, root,
        TableConfig("events_topn", Seq("event_id"),
          partitionSpec = Some("day(ts)"), statsColumns = Seq("ts")),
        contentSig = d,
        t(s, d, "events").select("event_id", "event_type", "ts"))
      val top = s.read.format("graft").load(root)
        .select("event_id", "event_type", "ts")
        .orderBy(col("ts").desc, col("event_id"))
        .limit(50)
      val plan = top.queryExecution.executedPlan.toString
      require(plan.contains("pushedTopN=ts DESC LIMIT 50"),
        s"TopN must reach the scan, got:\n$plan")
      val m = """files=(\d+)/(\d+)""".r.findFirstMatchIn(plan)
        .getOrElse(throw new IllegalStateException(
          s"no manifest scan in plan:\n$plan"))
      require(m.group(1).toInt < m.group(2).toInt,
        s"TopN must prune tail-day files, got files=${m.group(0)}")
      top
    },

    // PARTIAL AGGREGATE PUSHDOWN (round 15): MIN/MAX/COUNT on a table with
    // deletion vectors. The complete manifest answer is impossible (a
    // DV'd file's extremum may be deleted), but rejecting the pushdown
    // outright would re-scan the whole table — the per-file refinement
    // folds every clean file from the manifest and reads ONLY the DV'd
    // files (plan-asserted below). The retention-dashboard shape of the
    // reference's CDC tables after MOR deletes (positional deletes in
    // /root/reference/src/iceberg/iceberg-cdc-load.py:130-150).
    Q("q211_partial_agg_pushdown",
      """WITH kept AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        |  WHERE event_id >= 50)
        |SELECT min(event_id) AS mn_id, max(event_id) AS mx_id,
        |       count(*) AS cnt, count(ts) AS cnt_ts,
        |       min(ts) AS mn_ts, max(ts) AS mx_ts
        |FROM kept""".stripMargin) { (s, d) =>
      val root = tableDir("q211")
      val tbl = CowTable.replace(s, root,
        TableConfig("events_pagg", Seq("event_id"),
          clusterByKey = true, changeDataFeed = true,
          deletionVectors = true, statsColumns = Seq("ts")),
        t(s, d, "events").select("event_id", "ts").repartition(8))
      // MOR delete: a DV sidecar lands on the low-key file(s) only
      // (range-clustered layout), leaving the rest manifest-answerable
      tbl.delete(t(s, d, "events")
        .filter(col("event_id") < 50).select("event_id"))
      val df = s.read.format("graft").load(root)
        .agg(min("event_id").as("mn_id"), max("event_id").as("mx_id"),
          count(lit(1)).as("cnt"), count(col("ts")).as("cnt_ts"),
          min("ts").as("mn_ts"), max("ts").as("mx_ts"))
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("partial_agg_pushdown"),
        s"partial aggregate pushdown must plan, got:\n$plan")
      val fm = """(\d+)/(\d+) files read""".r.findFirstMatchIn(plan)
        .getOrElse(throw new IllegalStateException(
          s"no partial-agg scan in plan:\n$plan"))
      require(fm.group(1).toInt < fm.group(2).toInt,
        s"partial agg must fold clean files, got ${fm.group(0)}")
      df
    },

    // DISTINCT PARTITION VALUES from the manifest (round 15): the
    // "list partitions" metadata query every lake catalog runs — on a
    // 100 TB table this must be O(files) driver metadata, zero IO.
    // `SELECT DISTINCT <partition key>` arrives as a group-by with no
    // aggregates; the manifest answers it from path-borne values
    // (plan-asserted: LocalTableScan, no BatchScan).
    Q("q212_distinct_partitions",
      """SELECT DISTINCT event_type FROM events ORDER BY event_type
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q212")
      CowTable.replaceIfChanged(s, root,
        TableConfig("events_bytype", Seq("event_id"),
          partitionKey = Some("event_type")),
        contentSig = d,
        t(s, d, "events").select("event_id", "event_type", "value"))
      val df = s.read.format("graft").load(root)
        .select("event_type").distinct().orderBy("event_type")
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
        s"DISTINCT partition key must answer from the manifest:\n$plan")
      df
    },

    // METADATA-ONLY TYPE WIDENING (round 15 — Delta's type-widening
    // feature, Iceberg V2 schema evolution): `ALTER COLUMN ... TYPE
    // BIGINT` on an INT column is ONE schema-bearing reorganization
    // commit — zero data read, zero data written (require-asserted) —
    // after which INT32-era files and INT64-era files coexist under one
    // BIGINT column. Both readers promote at scan time, and stats-based
    // pruning stays exact because stat strings parse identically under
    // the wider type. On a 100 TB table this is the difference between
    // an O(metadata) DDL and a full-table rewrite. The returned
    // aggregate mixes both eras; DuckDB replays the union logically.
    Q("q213_type_widening",
      """WITH base AS (
        |  SELECT c_custkey AS ck, CAST(c_nationkey AS BIGINT) AS nk
        |  FROM customer),
        |ins AS (
        |  SELECT c_custkey + 10000000000 AS ck,
        |         CAST(c_nationkey AS BIGINT) + 4000000000 AS nk
        |  FROM customer WHERE c_custkey % 10 = 0)
        |SELECT nk, COUNT(*) AS cnt, CAST(SUM(ck) AS BIGINT) AS sum_ck
        |FROM (SELECT * FROM base UNION ALL SELECT * FROM ins)
        |GROUP BY nk ORDER BY nk
        |""".stripMargin) { (s, d) =>
      val lake = tableDir("q213")
      CowTable.deleteRecursively(java.nio.file.Paths.get(lake))
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
      t(sess, d, "customer").select("c_custkey", "c_nationkey")
        .createOrReplaceTempView("cust_src")
      sess.sql(
        """CREATE TABLE lake.default.cw OPTIONS (primaryKey 'ck')
          |AS SELECT c_custkey AS ck, CAST(c_nationkey AS INT) AS nk
          |FROM cust_src
          |""".stripMargin)                              // v1 + v2 (INT era)
      val tbl = CowTable(sess, lake + "/cw", TableConfig("cw", Seq("ck")))
      val before = tbl.manifest(tbl.currentVersion)
      sess.sql("ALTER TABLE lake.default.cw ALTER COLUMN nk TYPE BIGINT")
      val after = tbl.manifest(tbl.currentVersion)
      require(after.version == before.version + 1 && !after.dataChange &&
        after.files == before.files,
        "type widening must be exactly one metadata-only commit")
      sess.sql(
        """INSERT INTO lake.default.cw
          |SELECT c_custkey + 10000000000,
          |       CAST(c_nationkey AS BIGINT) + 4000000000
          |FROM cust_src WHERE c_custkey % 10 = 0
          |""".stripMargin)                              // v4 (BIGINT era)
      sess.sql(
        """SELECT nk, COUNT(*) AS cnt, SUM(ck) AS sum_ck
          |FROM lake.default.cw GROUP BY nk ORDER BY nk
          |""".stripMargin)
    },

    // table_changes TVF (round 15 — Delta's SQL change-feed surface): the
    // incremental-consumer query every downstream sync runs, with no
    // DataFrame API in sight. `table_changes('t', from)` expands at
    // analysis time into the SAME DSv2 CDF relation the reader option
    // plans (O(changed commits) manifest-ranged partitions). The history
    // mixes a CTAS load, a materialized-CDF DELETE, and a later INSERT;
    // DuckDB replays all three commits' change rows logically.
    Q("q214_table_changes_tvf",
      """WITH base AS (
        |  SELECT event_id, event_type FROM events WHERE event_id <= 3000)
        |SELECT event_id, event_type,
        |       'insert' AS _change_type, CAST(2 AS INT) AS _commit_version
        |FROM base
        |UNION ALL
        |SELECT event_id, event_type,
        |       'delete' AS _change_type, CAST(3 AS INT) AS _commit_version
        |FROM base WHERE event_type = 'error'
        |UNION ALL
        |SELECT event_id + 1000000, event_type,
        |       'insert' AS _change_type, CAST(4 AS INT) AS _commit_version
        |FROM base WHERE event_type <> 'error' AND event_id % 7 = 0
        |""".stripMargin) { (s, d) =>
      val lake = tableDir("q214")
      CowTable.deleteRecursively(java.nio.file.Paths.get(lake))
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
      t(sess, d, "events").select("event_id", "event_type")
        .filter(col("event_id") <= 3000)
        .createOrReplaceTempView("ev_src")
      sess.sql(
        """CREATE TABLE lake.default.tcev
          |OPTIONS (primaryKey 'event_id', changeDataFeed 'true')
          |AS SELECT * FROM ev_src
          |""".stripMargin)                                    // v1 + v2
      sess.sql("DELETE FROM lake.default.tcev " +
        "WHERE event_type = 'error'")                          // v3 (cdc)
      sess.sql(
        """INSERT INTO lake.default.tcev
          |SELECT event_id + 1000000, event_type FROM ev_src
          |WHERE event_type <> 'error' AND event_id % 7 = 0
          |""".stripMargin)                                    // v4
      sess.sql(
        """SELECT event_id, event_type, _change_type, _commit_version
          |FROM table_changes('lake.default.tcev', 2)
          |""".stripMargin)
    },

    // ROLLBACK CDF MATERIALIZATION (round 15): restoring a snapshot on a
    // changeDataFeed table materializes the restore DIFF — the rolled-away
    // deletes come back as inserts, rows untouched by the interval emit
    // NOTHING (churn-filtered), and the commit must not inherit the
    // target's stale change rows. The feed across (1,3] is then exactly
    // "v2's deletes + their v3 resurrection", which DuckDB replays
    // logically from the base slice.
    Q("q215_rollback_cdf",
      """WITH base AS (
        |  SELECT event_id, event_type FROM events WHERE event_id <= 2000)
        |SELECT event_id, event_type,
        |       'delete' AS _change_type, CAST(2 AS INT) AS _commit_version
        |FROM base WHERE event_type = 'error'
        |UNION ALL
        |SELECT event_id, event_type,
        |       'insert' AS _change_type, CAST(3 AS INT) AS _commit_version
        |FROM base WHERE event_type = 'error'
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q215")
      val ev = t(s, d, "events").select("event_id", "event_type")
        .filter(col("event_id") <= 2000)
      val tbl = CowTable.replace(s, root,
        TableConfig("events_rb", Seq("event_id"), changeDataFeed = true),
        ev)                                                        // v1
      tbl.delete(ev.filter(col("event_type") === "error")
        .select("event_id"))                                       // v2: cdc
      val v3 = tbl.rollbackTo(1)
      require(v3 == 3, s"rollback must be one commit, got v$v3")
      require(tbl.manifest(3).cdcDir.isDefined,
        "CDF rollback must materialize the restore diff")
      tbl.readChangeFeed(1, 3)
        .select(col("event_id"), col("event_type"),
          col("_change_type"), col("_commit_version"))
    },

    // PARTITION-SPEC EVOLUTION ON A TRANSFORM TABLE (round 16 — Iceberg
    // REPLACE PARTITION FIELD, the day(ts)→hour(ts) shape a table takes as
    // it grows hot; the reference's Iceberg path inherits this from the
    // spec declared at /root/reference/src/iceberg/iceberg-initial-load
    // .py:69). The evolution commit is metadata-only: old files keep their
    // ts_day= layout, the post-evolution load lands under ts_hour= dirs,
    // and a source-timestamp range predicate PRUNES BOTH ERAS — new files
    // through the current transform, old files through the retired one
    // (CommitManifest.priorSpecs replay). The generated ts_hour column is
    // derived on read for pre-evolution rows (never null), which DuckDB
    // replays as strftime over the source timestamp.
    Q("q216_spec_evolution",
      """SELECT event_id, event_type, value,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d-%H') AS ts_hour
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-03 00:00:00'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-06 00:00:00'
        |""".stripMargin) { (s, d) =>
      val root = tableDir("q216")
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val ev = t(s, d, "events")
        .select("event_id", "event_type", "value", "ts")
        .filter(col("ts") < lit("2024-01-08 00:00:00").cast("timestamp"))
      val cut = lit("2024-01-05 00:00:00").cast("timestamp")
      val t0 = CowTable(s, root, TableConfig("events_evo", Seq("event_id"),
        partitionSpec = Some("day(ts)")))
      t0.create(ev.filter(col("ts") < cut))            // old era: day dirs
      val t1 = t0.alterPartitionSpec(Some("hour(ts)")) // metadata-only
      require(!t1.manifest(2).dataChange &&
        t1.manifest(2).priorSpecs == Seq("day(ts)"),
        "evolution must be a metadata-only commit recording the prior spec")
      t1.upsert(ev.filter(col("ts") >= cut))           // new era: hour dirs
      val scan = s.read.format("graft").load(root)
        .filter(col("ts") >= lit("2024-01-03 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-06 00:00:00").cast("timestamp"))
      val plan = scan.queryExecution.executedPlan.toString
      val fm = """files=(\d+)/(\d+)""".r.findFirstMatchIn(plan).getOrElse(
        throw new IllegalStateException(s"no manifest scan in plan:\n$plan"))
      require(fm.group(1).toInt < fm.group(2).toInt,
        s"both-era pruning must drop files, got files=${fm.group(0)}")
      require(plan.contains("priorEraFilters=1"),
        s"retired-era pruning must engage:\n$plan")
      scan.select("event_id", "event_type", "value", "ts_hour")
    },

    // FLOAT→DOUBLE TYPE WIDENING (round 16 — the one widening q213 left
    // fenced): value-lossless (every float is exactly a double) but not
    // stat-string-lossless, so the ALTER re-derives the float-era files'
    // stat strings into double space (O(files) metadata — see
    // TypeWideningSpec's boundary-exactness case). FLOAT-physical and
    // DOUBLE-physical files then coexist under one DOUBLE column; both
    // reader modes promote at scan time. Row-level output (no FP
    // aggregation) keeps the DuckDB replay bit-exact: REAL↔DOUBLE casts
    // are IEEE-defined on both engines.
    Q("q217_float_widening",
      """WITH oldera AS (
        |  SELECT event_id AS id,
        |         CAST(CAST(value AS REAL) AS DOUBLE) AS x
        |  FROM events WHERE event_id <= 4000),
        |newera AS (
        |  SELECT event_id + 1000000 AS id, CAST(value AS DOUBLE) AS x
        |  FROM events WHERE event_id <= 4000 AND event_id % 5 = 0)
        |SELECT id, x
        |FROM (SELECT * FROM oldera UNION ALL SELECT * FROM newera)
        |WHERE x > 50.0
        |""".stripMargin) { (s, d) =>
      val lake = tableDir("q217")
      CowTable.deleteRecursively(java.nio.file.Paths.get(lake))
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
      t(sess, d, "events").select("event_id", "value")
        .filter(col("event_id") <= 4000)
        .createOrReplaceTempView("ev_src")
      sess.sql(
        """CREATE TABLE lake.default.fw
          |TBLPROPERTIES (primaryKey 'id', statsColumns 'x')
          |AS SELECT event_id AS id, CAST(value AS FLOAT) AS x
          |FROM ev_src
          |""".stripMargin)                            // v1 + v2 (FLOAT era)
      val tbl = CowTable(sess, lake + "/fw", TableConfig("fw", Seq("id")))
      val before = tbl.manifest(tbl.currentVersion)
      sess.sql("ALTER TABLE lake.default.fw ALTER COLUMN x TYPE DOUBLE")
      val after = tbl.manifest(tbl.currentVersion)
      require(after.version == before.version + 1 && !after.dataChange &&
        after.files.map(_.path) == before.files.map(_.path),
        "float widening must be exactly one metadata-only commit")
      // re-derivation is observable: a float shortest-form stat string
      // ("57.3") differs from the exact float's double print
      // ("57.29999923706055") for virtually every non-integral value
      require(after.files.zip(before.files).exists { case (a, b) =>
        a.extra.get("x").flatMap(_.mx) != b.extra.get("x").flatMap(_.mx) },
        "float-era stat strings must re-derive into double space")
      sess.sql(
        """INSERT INTO lake.default.fw
          |SELECT event_id + 1000000, CAST(value AS DOUBLE)
          |FROM ev_src WHERE event_id % 5 = 0
          |""".stripMargin)                            // v4 (DOUBLE era)
      sess.sql(
        "SELECT id, x FROM lake.default.fw WHERE x > 50.0")
    },

    // PER-FILE NDV SKETCHES, ORACLE-CHECKED (round 16): the `ndvSketch`
    // table property writes K-minimum-values states per stats column per
    // file; `$column_stats` merges them over the whole table — and because
    // KMV unions are EXACT (merge-sort + cap) and the hash is the
    // engine-standard replayable 48-bit md5, the merged-across-files
    // estimate equals a GLOBAL single-pass sketch, which DuckDB replays
    // bit-for-bit (an approximate statistic with an exact oracle — the
    // same discipline as q72's kmv_distinct). Two commits prove the merge;
    // n_chars exercises the estimator branch (ndv > k), lang/source the
    // exhaustive-exact branch (ndv < k).
    Q("q218_column_stats", {
      def leg(c: String): String =
        s"""SELECT '$c' AS col_name,
           |  (WITH h AS (SELECT ('0x' || substr(md5(CAST($c AS VARCHAR)),
           |                1, 12))::BIGINT AS h
           |              FROM documents WHERE $c IS NOT NULL),
           |   s AS (SELECT list_sort(list_distinct(list(h))) AS hs,
           |           count(DISTINCT h) AS nd FROM h)
           |   SELECT CASE WHEN nd < 64 THEN CAST(nd AS DOUBLE)
           |     ELSE CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE)
           |          / CAST(hs[64] AS DOUBLE) END FROM s) AS ndv,
           |  (SELECT count(*) - count($c) FROM documents) AS null_count
           |""".stripMargin
      Seq("lang", "n_chars", "source").map(leg)
        .mkString("", "UNION ALL\n", "ORDER BY col_name\n")
    }) { (s, d) =>
      val lake = tableDir("q218")
      CowTable.deleteRecursively(java.nio.file.Paths.get(lake))
      val docs = t(s, d, "documents")
        .select("doc_id", "lang", "source", "n_chars")
      val cfg = TableConfig("ds", Seq("doc_id"),
        statsColumns = Seq("lang", "n_chars", "source"), ndvSketch = true)
      val tbl = CowTable(s, lake + "/ds", cfg)
      tbl.create(docs.filter(col("doc_id") % 2 === 1))   // sketch era 1
      tbl.upsert(docs.filter(col("doc_id") % 2 === 0))   // sketch era 2
      val m = tbl.manifest(tbl.currentVersion)
      require(m.files.forall(e => Seq("lang", "n_chars", "source")
        .forall(e.ndv.contains)), "every file needs every column's sketch")
      graft.storage.LakeRegistry.register(lake, cfg, lake + "/ds")
      val sess = s.newSession()
      sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
      sess.sql("SELECT col_name, ndv, null_count FROM " +
        "lake.default.`ds$column_stats` ORDER BY col_name")
    })
}
