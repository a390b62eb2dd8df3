package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("extensions install the native functions into a session's SQL surface") {
    // boot the shared session first, then force a NEW SparkSession (same
    // SparkContext) — getOrCreate returns the active session otherwise and
    // silently ignores withExtensions
    val base = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      import s.implicits._
      Seq((1L, "hello world", Seq(7L, 7L, 9L)))
        .toDF("id", "text", "hs").createOrReplaceTempView("ext_t")
      val row = s.sql(
        """SELECT
          |  byte_histogram(CAST(text AS BINARY), 16) AS bh,
          |  simhash48(hs) AS sh,
          |  affine_minhash_sig(hs, 4) AS sig,
          |  dot_long(hs, hs) AS d,
          |  winnow_mins(hs, 2) AS wm,
          |  size(rolling_hash_windows(text, 4, 2)) AS nrh
          |FROM ext_t
          |""".stripMargin).head()
      assert(row.getSeq[Long](row.fieldIndex("bh")).sum == 11L)
      assert(row.getAs[Long]("d") == 7L * 7 + 7L * 7 + 9L * 9)
      assert(row.getSeq[Long](row.fieldIndex("sig")).length == 4)
      assert(row.getSeq[Long](row.fieldIndex("wm")).nonEmpty)
      assert(row.getAs[Int]("nrh") > 0)
      // simhash of identical-bit inputs: bits of 7 and 9 majority-voted
      assert(row.getAs[Long]("sh") >= 0L)
      // bad calls are proper analysis errors, not builder crashes:
      // wrong arity, non-literal int arg, and out-of-Int-range Long literal
      intercept[org.apache.spark.sql.AnalysisException](
        s.sql("SELECT simhash48() FROM ext_t").head())
      intercept[org.apache.spark.sql.AnalysisException](
        s.sql("SELECT winnow_mins(hs, id) FROM ext_t").head())
      intercept[org.apache.spark.sql.AnalysisException](
        s.sql("SELECT rolling_hash_windows(text, 4294967328, 8) FROM ext_t")
          .head())

      // fused text expressions + library scalars in SQL
      val row2 = s.sql(
        """SELECT
          |  size(token_hash48(text)) AS nth,
          |  size(shingle_hash48(text, 2)) AS nsh,
          |  text_profile(text).n_tokens AS nt,
          |  repetition_profile(text).max_token_run AS run,
          |  bpe_encode(text) AS bpe,
          |  token_chunks(text, 2, 1) AS chunks,
          |  rate_keep(id, CAST(1.0 AS DOUBLE)) AS keep_all,
          |  rate_keep(id, CAST(0.0 AS DOUBLE)) AS keep_none
          |FROM ext_t
          |""".stripMargin).head()
      assert(row2.getAs[Int]("nth") == 2 && row2.getAs[Int]("nsh") == 1)
      assert(row2.getAs[Long]("nt") == 2L && row2.getAs[Long]("run") == 1L)
      // "hello world" under the demo vocab: he+l+l+o  w+or+l+d
      assert(row2.getSeq[Int](row2.fieldIndex("bpe")).length == 8)
      // 2 tokens, window 2, stride 1: one window covers the whole text
      assert(row2.getSeq[org.apache.spark.sql.Row](
        row2.fieldIndex("chunks")).map(_.getString(0)) ==
        Seq("hello world"))
      assert(row2.getAs[Boolean]("keep_all") && !row2.getAs[Boolean]("keep_none"))

      // sketch aggregates (typed Aggregators surfaced in SQL)
      Seq.tabulate(100)(i => (i.toLong * 37 % 1000, i.toDouble))
        .toDF("h", "v").createOrReplaceTempView("ext_agg")
      val agg = s.sql(
        """SELECT kmv_distinct(h, 200) AS nd,
          |  quantile_sketch(h, v, 200, 0.0, 0.5, 1.0) AS qs
          |FROM ext_agg
          |""".stripMargin).head()
      // k=200 > 100 rows: both sketches are exhaustive/exact
      assert(agg.getAs[Double]("nd") == 100.0)
      assert(agg.getSeq[Double](agg.fieldIndex("qs")) ==
        Seq(0.0, 49.5, 99.0))

      // round-11 additions: frame energies + space-saving heavy hitters
      val r3 = s.sql(
        """SELECT frame_energies(array(1, -2, 3, 4, 5), 2) AS fe
          |FROM ext_t""".stripMargin).head()
      assert(r3.getSeq[Long](r3.fieldIndex("fe")) == Seq(5L, 25L, 25L))
      Seq("a", "b", "a", "c", "a", "b").toDF("w")
        .createOrReplaceTempView("ext_w")
      val tt = s.sql("SELECT top_tokens(w, 8) AS m FROM ext_w").head()
      assert(tt.getMap[String, Long](tt.fieldIndex("m")) ==
        Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
      intercept[org.apache.spark.sql.AnalysisException](
        s.sql("SELECT top_tokens(w) FROM ext_w").head())

      // round-12 additions: funnel + cohort aggregates in SQL
      Seq(
        (1L, "2024-01-01 10:00:00", "signup"),
        (1L, "2024-01-02 10:00:00", "click"),
        (1L, "2024-01-09 10:00:00", "purchase"),
        (2L, "2024-01-03 10:00:00", "signup"),
        (2L, "2024-01-02 10:00:00", "click"), // click BEFORE signup: no t2
        (3L, "2024-01-08 10:00:00", "click")) // never signed up: no row t1
        .toDF("uid", "ts_s", "etype")
        .selectExpr("uid", "CAST(ts_s AS TIMESTAMP) AS ts", "etype")
        .createOrReplaceTempView("ext_ev")
      val fu = s.sql(
        """SELECT uid, funnel_stages(ts, etype,
          |  'signup', 'click', 'purchase') AS st
          |FROM ext_ev GROUP BY uid ORDER BY uid
          |""".stripMargin).collect()
      def stages(r: org.apache.spark.sql.Row) =
        r.getSeq[java.sql.Timestamp](r.fieldIndex("st"))
          .map(Option(_).map(_.toString))
      assert(stages(fu(0)) == Seq(Some("2024-01-01 10:00:00.0"),
        Some("2024-01-02 10:00:00.0"), Some("2024-01-09 10:00:00.0")))
      assert(stages(fu(1)) == Seq(Some("2024-01-03 10:00:00.0"),
        None, None))
      assert(stages(fu(2)) == Seq(None, None, None))
      // gap-bounded: purchase 7 days after click misses a 3-day window
      val fg = s.sql(
        """SELECT funnel_stages(ts, etype,
          |  'signup', 'click', 'purchase', 259200) AS st
          |FROM ext_ev WHERE uid = 1
          |""".stripMargin).head()
      assert(stages(fg) == Seq(Some("2024-01-01 10:00:00.0"),
        Some("2024-01-02 10:00:00.0"), None))
      val co = s.sql(
        """SELECT uid, cohort_weeks(ts).cohort_week AS cw,
          |  cohort_weeks(ts).offsets AS offs
          |FROM ext_ev WHERE uid <= 2 GROUP BY uid ORDER BY uid
          |""".stripMargin).collect()
      // 2024-01-01 is a Monday: uid 1's weeks are Jan 1 and Jan 8
      assert(co(0).getDate(1).toString == "2024-01-01")
      assert(co(0).getSeq[Long](2) == Seq(0L, 1L))
      assert(co(1).getDate(1).toString == "2024-01-01")
      assert(co(1).getSeq[Long](2) == Seq(0L))
      intercept[org.apache.spark.sql.AnalysisException](
        s.sql("SELECT funnel_stages(ts, etype) FROM ext_ev").head())
    } finally {
      // restore the shared session as default for other suites
      assert(base.sparkContext == s.sparkContext)
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("persisted lake views: CALL create_view + SELECT through the rule") {
    val base = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val lake = java.nio.file.Files.createTempDirectory("views").toString
      s.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.lake.warehouse", lake)
      s.sql("CREATE TABLE lake.default.vt (id BIGINT, v DOUBLE) " +
        "OPTIONS (primaryKey 'id')")
      s.sql("INSERT INTO lake.default.vt VALUES (1, 1.5), (2, -2.0), " +
        "(3, 3.5)")
      // CREATE: validated by analysis — a bad definition fails loudly
      s.sql("CALL lake.create_view('pos', " +
        "'SELECT id, v FROM lake.default.vt WHERE v > 0')")
      intercept[Exception](s.sql(
        "CALL lake.create_view('bad', 'SELECT * FROM lake.default.nope')"))
      intercept[Exception](s.sql( // self-reference: not yet resolvable
        "CALL lake.create_view('self', 'SELECT * FROM lake.default.self')"))
      // SELECT expands the stored definition (both qualifications)
      assert(s.sql("SELECT sum(v) FROM lake.default.pos")
        .head().getDouble(0) == 5.0)
      assert(s.sql("SELECT count(*) FROM lake.pos").head().getLong(0) == 2L)
      // the view tracks the BASE TABLE, not a snapshot
      s.sql("INSERT INTO lake.default.vt VALUES (4, 10.0)")
      assert(s.sql("SELECT count(*) FROM lake.default.pos")
        .head().getLong(0) == 3L)
      // views compose: a view over a view expands across iterations
      s.sql("CALL lake.create_view('big', " +
        "'SELECT id FROM lake.default.pos WHERE v > 2')")
      assert(s.sql("SELECT id FROM lake.default.big ORDER BY id").collect()
        .map(_.getLong(0)).toSeq == Seq(3L, 4L))
      // list + drop; a table name can never be shadowed by a view
      assert(s.sql("CALL lake.list_views()").collect()
        .map(_.getString(0)).toSeq == Seq("big", "pos"))
      intercept[Exception](s.sql(
        "CALL lake.create_view('vt', 'SELECT 1 AS x')"))
      s.sql("CALL lake.drop_view('big')")
      intercept[Exception](
        s.sql("SELECT * FROM lake.default.big").collect())
      // the definition persists on disk: a SECOND extension session reads it
      assert(graft.sources.GraftViews.read(lake, "pos").get.sql
        .contains("WHERE v > 0"))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("CALL replace_view: atomic redefinition, cycles fenced loud") {
    val base = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val lake = java.nio.file.Files.createTempDirectory("rviews").toString
      s.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.lake.warehouse", lake)
      s.sql("CREATE TABLE lake.default.rt (id BIGINT, v DOUBLE) " +
        "OPTIONS (primaryKey 'id')")
      s.sql("INSERT INTO lake.default.rt VALUES (1, 1.5), (2, -2.0), " +
        "(3, 3.5)")
      s.sql("CALL lake.create_view('pos', " +
        "'SELECT id, v FROM lake.default.rt WHERE v > 0')")
      assert(s.sql("SELECT count(*) FROM lake.default.pos")
        .head().getLong(0) == 2L)
      // ATOMIC redefinition: one CALL, the very next read sees the new
      // semantics — no drop/create visibility gap
      s.sql("CALL lake.replace_view('pos', " +
        "'SELECT id, v FROM lake.default.rt WHERE v < 0')")
      assert(s.sql("SELECT count(*) FROM lake.default.pos")
        .head().getLong(0) == 1L)
      assert(s.sql("SELECT id FROM lake.default.pos").head().getLong(0) == 2L)
      // missing view is loud (create_view is the create path)
      intercept[Exception](s.sql(
        "CALL lake.replace_view('nope', 'SELECT 1 AS x')"))
      // DIRECT self-cycle: analysis alone would expand the OLD definition
      // and succeed — the graph check fences it loud, and the stored
      // definition is untouched
      intercept[Exception](s.sql(
        "CALL lake.replace_view('pos', 'SELECT * FROM lake.default.pos')"))
      assert(graft.sources.GraftViews.read(lake, "pos").get.sql
        .contains("v < 0"))
      // INDIRECT cycle through a second view: top -> pos, then
      // pos -> top must be rejected
      s.sql("CALL lake.create_view('top', " +
        "'SELECT id FROM lake.default.pos')")
      intercept[Exception](s.sql(
        "CALL lake.replace_view('pos', " +
          "'SELECT id, 0.0 AS v FROM lake.default.top')"))
      // a NON-cyclic redefinition referencing another view is fine
      s.sql("CALL lake.replace_view('top', " +
        "'SELECT id FROM lake.default.pos WHERE id > 0')")
      assert(s.sql("SELECT count(*) FROM lake.default.top")
        .head().getLong(0) == 1L)
      // bad new definition (missing table) never lands
      intercept[Exception](s.sql(
        "CALL lake.replace_view('top', 'SELECT * FROM lake.default.gone')"))
      assert(graft.sources.GraftViews.read(lake, "top").get.sql
        .contains("id > 0"))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("the shared main session builder: tuned, UTC, table_changes resolves") {
    // same clear-active-session pattern as above: a NEW session on the
    // suite's SparkContext, never stopped (that would stop the context)
    val base = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.core.SessionTuning.builder(defaultCpus = 2).getOrCreate()
    try {
      assert(s ne base)
      assert(s.conf.get(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      val lake = java.nio.file.Files.createTempDirectory("builder").toString
      s.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.lake.warehouse", lake)
      s.sql("CREATE TABLE lake.default.sb (id BIGINT) " +
        "TBLPROPERTIES (primaryKey 'id', changeDataFeed 'true')")
      s.sql("INSERT INTO lake.default.sb VALUES (1), (2)")
      assert(s.sql("SELECT id FROM table_changes('lake.sb', 2)").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("table_changes TVF reads the change feed through SQL") {
    val base = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val lake = java.nio.file.Files.createTempDirectory("tvf").toString
      s.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      s.conf.set("spark.sql.catalog.lake.warehouse", lake)
      s.sql("CREATE TABLE lake.default.tc (id BIGINT, v STRING) " +
        "TBLPROPERTIES (primaryKey 'id', changeDataFeed 'true')")   // v1
      s.sql("INSERT INTO lake.default.tc VALUES (1, 'a'), (2, 'b')") // v2
      Thread.sleep(20) // distinct commit timestamps for the ts form
      s.sql("INSERT INTO lake.default.tc VALUES (3, 'c')")           // v3
      s.sql("DELETE FROM lake.default.tc WHERE id = 1")              // v4
      def rows(sql: String): Seq[(Long, String, Int)] =
        s.sql(sql).collect().map(r => (r.getLong(0), r.getString(1),
          r.getInt(2))).toSeq.sortBy(t => (t._3, t._1))
      // both version bounds INCLUSIVE (Delta parity)
      assert(rows("SELECT id, _change_type, _commit_version FROM " +
        "table_changes('lake.default.tc', 2, 3)") ==
        Seq((1L, "insert", 2), (2L, "insert", 2), (3L, "insert", 3)))
      // two-part name; a missing `to` reads through the current version
      assert(rows("SELECT id, _change_type, _commit_version FROM " +
        "table_changes('lake.tc', 4)") == Seq((1L, "delete", 4)))
      // path form, single-commit window
      assert(rows("SELECT id, _change_type, _commit_version FROM " +
        s"table_changes('$lake/tc', 3, 3)") == Seq((3L, "insert", 3)))
      // timestamp form: starting at v3's commit instant covers v3..v4
      val v3ts = graft.storage.CowTable(s, lake + "/tc",
        graft.storage.TableConfig("tc", Seq("id"))).manifest(3).commitTimeMs
      val lit = java.time.LocalDateTime.ofInstant(
        java.time.Instant.ofEpochMilli(v3ts), java.time.ZoneOffset.UTC)
        .toString
      assert(rows("SELECT id, _change_type, _commit_version FROM " +
        s"table_changes('lake.default.tc', '$lit')") ==
        Seq((3L, "insert", 3), (1L, "delete", 4)))
      // the TVF composes like any relation: filters and aggregates apply
      assert(s.sql("SELECT COUNT(*) FROM table_changes('lake.tc', 2) " +
        "WHERE _change_type = 'insert'").head().getLong(0) == 3L)
      // errors are loud: unknown table, wrong arity
      intercept[Exception](s.sql(
        "SELECT * FROM table_changes('lake.default.nope', 1)"))
      intercept[Exception](s.sql(
        "SELECT * FROM table_changes('lake.default.tc')"))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
