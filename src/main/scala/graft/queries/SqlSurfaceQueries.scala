package graft.queries

import java.nio.file.Paths

import graft.core.{Q, Tables}
import graft.storage.CowTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The SQL entry point (SURVEY.md §3.3 entry point C): temp-view
  * registration, layered CREATE VIEW feature stacks, CTAS, and catalog
  * probes — the parse/analyze/catalog path the reference's analytic surface
  * runs through (reference: src/sample_redshift_ml_sql_query.txt,
  * SHOW TABLES probes src/iceberg/iceberg-initial-load.py:102-104,
  * spark.catalog.listTables src/hudi/hudi-initial-load.py:114).
  */
object SqlSurfaceQueries {

  private def valuesOracle(names: Seq[String]): String =
    names.map(n => s"('$n')")
      .mkString("SELECT * FROM (VALUES ", ", ", ") AS t(table_name)")

  val all: Seq[Q] = Seq(

    // §2.5 #28 layered view definitions + churn-feature query, all through
    // spark.sql over registered views (reference:
    // src/sample_redshift_ml_sql_query.txt:11-49).
    Q("q31_view_sql",
      """WITH user_features AS (
        |  SELECT user_id,
        |    date_diff('day', CAST(max(ts) AS DATE), DATE '2024-01-31') AS days_silent,
        |    date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS account_length
        |  FROM events GROUP BY user_id),
        |activity AS (
        |  SELECT user_id, count(*) AS n_events,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
        |  FROM events GROUP BY user_id)
        |SELECT u.user_id,
        |  CASE WHEN u.days_silent > 14 THEN 'True' ELSE 'False' END AS churn,
        |  u.account_length, a.n_events, a.n_purchases
        |FROM user_features u JOIN activity a ON u.user_id = a.user_id
        |""".stripMargin) { (s, d) =>
      Tables.registerAll(s, d)
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW graft_user_features AS
          |SELECT user_id,
          |  datediff(DATE '2024-01-31', to_date(max(ts))) AS days_silent,
          |  datediff(to_date(max(ts)), to_date(min(ts))) AS account_length
          |FROM events GROUP BY user_id
          |""".stripMargin)
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW graft_activity AS
          |SELECT user_id, count(*) AS n_events,
          |  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_purchases
          |FROM events GROUP BY user_id
          |""".stripMargin)
      s.sql(
        """SELECT u.user_id,
          |  CASE WHEN u.days_silent > 14 THEN 'True' ELSE 'False' END AS churn,
          |  CAST(u.account_length AS BIGINT) AS account_length,
          |  n_events, n_purchases
          |FROM graft_user_features u
          |JOIN graft_activity a ON u.user_id = a.user_id
          |""".stripMargin)
    },

    // §2.5 #31 CTAS: 3-way join persisted as a catalog table then re-read
    // (reference: CREATE TABLE player_activity AS SELECT ...,
    // src/sample_redshift_ml_sql_query.txt:54-73).
    Q("q32_ctas",
      """SELECT c.c_custkey AS user_id, n.n_name AS nation,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM customer c
        |JOIN orders o ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1, 2
        |""".stripMargin) { (s, d) =>
      Tables.registerAll(s, d)
      s.sql("DROP TABLE IF EXISTS graft_player_activity")
      // the in-memory catalog forgets tables across sessions but the managed
      // location survives — clear it so CREATE TABLE never trips over stale files
      val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      CowTable.deleteRecursively(Paths.get(wh, "graft_player_activity"))
      s.sql(
        """CREATE TABLE graft_player_activity USING parquet AS
          |SELECT c.c_custkey AS user_id, n.n_name AS nation,
          |  count(*) AS n_orders,
          |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
          |FROM customer c
          |JOIN orders o ON o.o_custkey = c.c_custkey
          |JOIN nation n ON c.c_nationkey = n.n_nationkey
          |GROUP BY 1, 2
          |""".stripMargin)
      s.table("graft_player_activity")
    },

    // §2.4 #24 SHOW TABLES + project (reference:
    // src/iceberg/iceberg-initial-load.py:102-104). Filtered to the engine's
    // registered test tables so other sessions' temp views can't leak in.
    Q("q33_show_tables", valuesOracle(Tables.names)) { (s, d) =>
      Tables.registerAll(s, d)
      s.sql("SHOW TABLES")
        .filter(col("tableName").isin(Tables.names: _*))
        .select(col("tableName").as("table_name"))
    },

    // §2.4 #25 catalog list API (reference:
    // spark.catalog.listTables(DATABASE), src/hudi/hudi-initial-load.py:114).
    Q("q36_catalog_list", valuesOracle(Tables.names)) { (s, d) =>
      Tables.registerAll(s, d)
      s.catalog.listTables()
        .filter(col("name").isin(Tables.names: _*))
        .select(col("name").as("table_name"))
    },

    // Bucketed co-located join: both sides written bucketBy(custkey) so the
    // join needs NO shuffle of either side (the bucketing discipline that
    // turns a 100 TB fact⋈fact join from two full shuffles into a local
    // zip of buckets). Plan asserted shuffle-free in BucketedJoinSpec;
    // result must equal the plain join (oracle).
    Q("q56_bucketed_join",
      """SELECT c.c_custkey, c.c_mktsegment,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
        |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY 1, 2
        |""".stripMargin) { (s, d) =>
      Tables.registerAll(s, d)
      val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      Seq("graft_customer_b", "graft_orders_b").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        CowTable.deleteRecursively(Paths.get(wh, t))
      }
      Tables.table(s, d, "customer").write
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable("graft_customer_b")
      Tables.table(s, d, "orders").write
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("graft_orders_b")
      s.table("graft_customer_b")
        .join(s.table("graft_orders_b"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total_spend"))
    },

    // Durable lake catalog (the reference's hive-sync/Glue persistence,
    // src/hudi/hudi-initial-load.py:76-81): tables are created + registered
    // in <lake>/_catalog.vNNNNN.json by one session, then a FRESH session —
    // new temp-view catalog, no config object in scope — attaches the lake
    // by directory alone and answers SQL over the registered views.
    Q("q81_catalog_attach",
      """SELECT n.n_name AS nation, count(*) AS n_cust,
        |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        |GROUP BY 1
        |""".stripMargin) { (s, d) =>
      val lake = StorageQueries.tableDir("q81_lake")
      CowTable.deleteRecursively(Paths.get(lake))
      Seq("customer" -> Seq("c_custkey"), "nation" -> Seq("n_nationkey"))
        .foreach { case (name, pk) =>
          val cfg = graft.storage.TableConfig(name, pk)
          CowTable(s, s"$lake/$name", cfg).create(Tables.table(s, d, name))
          graft.storage.LakeRegistry.register(lake, cfg)
        }
      val fresh = s.newSession()
      graft.storage.LakeRegistry.attach(fresh, lake)
      fresh.sql(
        """SELECT n.n_name AS nation, count(*) AS n_cust,
          |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
          |FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
          |GROUP BY 1
          |""".stripMargin)
    },

    // §2.5 #34 the ML-scoring function-call shape: the reference's churn
    // model is an external Redshift ML function invoked per row
    // (src/sample_redshift_ml_sql_query.txt:113-133); here a registered
    // scalar function (logistic over the engineered features) called from
    // SQL — the per-row scoring surface without the external service.
    Q("q53_ml_score",
      """WITH f AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', CAST(max(ts) AS DATE), DATE '2024-01-31') AS DOUBLE) AS days_silent,
        |    CAST(count(*) AS DOUBLE) AS n_events
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |  floor((1.0 / (1.0 + exp(-(0.25 * days_silent - 0.02 * n_events - 1.5)))) * 10000 + 0.5) / 10000
        |    AS churn_score
        |FROM f
        |""".stripMargin) { (s, d) =>
      Tables.registerAll(s, d)
      s.udf.register("graft_churn_score",
        (daysSilent: Double, nEvents: Double) =>
          1.0 / (1.0 + math.exp(-(0.25 * daysSilent - 0.02 * nEvents - 1.5))))
      s.sql(
        """WITH f AS (
          |  SELECT user_id,
          |    CAST(datediff(DATE '2024-01-31', to_date(max(ts))) AS DOUBLE) AS days_silent,
          |    CAST(count(*) AS DOUBLE) AS n_events
          |  FROM events GROUP BY user_id)
          |SELECT user_id,
          |  floor(graft_churn_score(days_silent, n_events) * 10000 + 0.5) / 10000
          |    AS churn_score
          |FROM f
          |""".stripMargin)
    })
}
