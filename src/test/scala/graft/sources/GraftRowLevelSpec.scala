package graft.sources

import graft.SparkSpec
import graft.storage.{CowTable, TableConfig}
import org.apache.spark.sql.functions._

class GraftRowLevelSpec extends SparkSpec {
  import spark.implicits._

  private def withSqlTable(dir: String, name: String)(body: => Unit): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    try {
      spark.sql(s"CREATE TABLE $name USING graft LOCATION '$dir'")
      body
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("MERGE INTO: update, delete, and insert clauses in one statement") {
    val dir = tmpDir("rl") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    t.create(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v"))
    Seq((1L, "a2", 11.0, "U"), (3L, "c", 0.0, "D"), (9L, "new", 90.0, "I"))
      .toDF("id", "name", "v", "op").createOrReplaceTempView("rl_src")
    withSqlTable(dir, "rl_merge") {
      spark.sql(
        """MERGE INTO rl_merge t USING rl_src s ON t.id = s.id
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET t.name = s.name, t.v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, name, v) VALUES (s.id, s.name, s.v)
          |""".stripMargin)
      assert(spark.sql("SELECT * FROM rl_merge").as[(Long, String, Double)]
        .collect().toSet ==
        Set((1L, "a2", 11.0), (2L, "b", 20.0), (9L, "new", 90.0)))
    }
    assert(t.currentVersion == 2) // exactly one commit for the whole MERGE
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: full-sync in one statement") {
    val dir = tmpDir("rl") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    t.create(Seq((1L, "stale", 1.0), (2L, "b", 20.0), (3L, "gone", 30.0))
      .toDF("id", "name", "v"))
    // snapshot: 1 updated, 2 unchanged, 3 vanished, 4 new
    Seq((1L, "fresh", 2.0), (2L, "b", 20.0), (4L, "new", 40.0))
      .toDF("id", "name", "v").createOrReplaceTempView("rl_sync_src")
    withSqlTable(dir, "rl_sync") {
      spark.sql(
        """MERGE INTO rl_sync t USING rl_sync_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE THEN DELETE
          |""".stripMargin)
      assert(spark.sql("SELECT * FROM rl_sync").as[(Long, String, Double)]
        .collect().toSet ==
        Set((1L, "fresh", 2.0), (2L, "b", 20.0), (4L, "new", 40.0)))
    }
    assert(t.currentVersion == 2)
  }

  test("MERGE NOT MATCHED BY SOURCE with condition: UPDATE marks, no delete") {
    val dir = tmpDir("rl") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    t.create(Seq((1L, "a"), (2L, "b"), (3L, "keepme"))
      .toDF("id", "status"))
    Seq(Tuple1(1L)).toDF("id").createOrReplaceTempView("rl_seen")
    withSqlTable(dir, "rl_mark") {
      spark.sql(
        """MERGE INTO rl_mark t USING rl_seen s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET t.status = 'seen'
          |WHEN NOT MATCHED BY SOURCE AND t.status <> 'keepme'
          |  THEN UPDATE SET t.status = 'stale'
          |""".stripMargin)
      assert(spark.sql("SELECT * FROM rl_mark").as[(Long, String)]
        .collect().toSet ==
        Set((1L, "seen"), (2L, "stale"), (3L, "keepme")))
    }
  }

  test("MERGE prunes: untouched files are carried over, not rewritten") {
    val dir = tmpDir("rl") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      clusterByKey = true))
    t.create((1L to 400L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(4))
    val v1Files = t.manifest(1).files.map(_.path).toSet
    assert(v1Files.size == 4)
    Seq((7L, "updated"), (401L, "inserted")).toDF("id", "name")
      .createOrReplaceTempView("rl_small")
    withSqlTable(dir, "rl_prune") {
      spark.sql(
        """MERGE INTO rl_prune t USING rl_small s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |""".stripMargin)
    }
    val m2 = t.manifest(2)
    val carried = m2.files.map(_.path).toSet.intersect(v1Files)
    // runtime group filtering on the key must keep 3 of the 4 range-
    // clustered files untouched (only the file containing id=7 is scanned)
    assert(carried.size == 3,
      s"expected 3 carried files, got ${carried.size} " +
        s"(v2 files: ${m2.files.map(_.path)})")
    assert(t.read().count() == 401)
    assert(t.read().filter($"id" === 7L).as[(Long, String)].collect()
      .toSeq == Seq((7L, "updated")))
    assert(t.read().filter($"id" === 401L).as[(Long, String)].collect()
      .toSeq == Seq((401L, "inserted")))
    // partially-matched file: co-located keys survived the rewrite
    assert(t.read().filter($"id".isin(6L, 8L)).count() == 2)
  }

  test("composite-key MERGE: runtime filtering prunes on BOTH key columns") {
    val dir = tmpDir("rl") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("a", "b")))
    // identical a-ranges, disjoint b-ranges: only the col-2 runtime filter
    // can separate the two files
    t.create((1L to 10L).flatMap(a => (1L to 100L).map(b => (a, b, 0.0)))
      .toDF("a", "b", "v").repartitionByRange(2, col("b")))
    val v1 = t.manifest(1).files.map(_.path).toSet
    assert(v1.size == 2)
    Seq((5L, 90L, 1.0)).toDF("a", "b", "v")
      .createOrReplaceTempView("rl_ck_src")
    withSqlTable(dir, "rl_ck") {
      spark.sql(
        """MERGE INTO rl_ck t USING rl_ck_src s
          |ON t.a = s.a AND t.b = s.b
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |""".stripMargin)
    }
    val m2 = t.manifest(2)
    val carried = m2.files.map(_.path).toSet.intersect(v1)
    assert(carried.size == 1,
      s"expected the low-b file carried, got ${carried.size} " +
        s"(v2 files: ${m2.files.map(_.path)})")
    assert(t.read().filter($"v" === 1.0).as[(Long, Long, Double)]
      .collect().toSeq == Seq((5L, 90L, 1.0)))
    assert(t.read().count() == 1000)
  }

  // ---- source-bounded group discovery (MergeSourcePrune) ---------------
  // Disabling Spark's runtime group filter isolates the optimizer rule:
  // without it, ONLY the source-key prune can keep untouched files out of
  // the rewrite — carried files prove the candidate set was computed.

  private val GroupFilterConf =
    "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled"

  /** The bounds job skips tables below `graft.mergeSourcePruneMinFiles`
    * (it cannot pay for itself there); these fixtures are 4 files. */
  private def withSourcePruneAlways(body: => Unit): Unit = {
    spark.conf.set("graft.mergeSourcePruneMinFiles", "0")
    try body finally spark.conf.unset("graft.mergeSourcePruneMinFiles")
  }

  private def withoutRuntimeGroupFilter(body: => Unit): Unit =
    withSourcePruneAlways {
      spark.conf.set(GroupFilterConf, "false")
      try body finally spark.conf.set(GroupFilterConf, "true")
    }

  test("MERGE source bounds prune groups without runtime group filtering") {
    val dir = tmpDir("rl") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      clusterByKey = true))
    t.create((1L to 400L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(4))
    val v1Files = t.manifest(1).files.map(_.path).toSet
    assert(v1Files.size == 4)
    Seq((7L, "updated"), (401L, "inserted")).toDF("id", "name")
      .createOrReplaceTempView("rl_sb_src")
    withSqlTable(dir, "rl_sb") {
      withoutRuntimeGroupFilter {
        spark.sql(
          """MERGE INTO rl_sb t USING rl_sb_src s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *
            |""".stripMargin)
      }
    }
    val carried = t.manifest(2).files.map(_.path).toSet.intersect(v1Files)
    assert(carried.size == 3,
      s"source-bounded prune must carry 3 of 4 files, got ${carried.size}")
    assert(t.read().count() == 401)
    assert(t.read().filter($"id" === 7L).as[(Long, String)].collect()
      .toSeq == Seq((7L, "updated")))
    assert(t.read().filter($"id".isin(6L, 8L, 401L)).count() == 3)
  }

  test("MERGE source bounds also reach the group-filter subquery scan") {
    val dir = tmpDir("rl") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      clusterByKey = true))
    t.create((1L to 400L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(4))
    Seq((7L, "updated"), (401L, "inserted")).toDF("id", "name")
      .createOrReplaceTempView("rl_sq_src")
    withSqlTable(dir, "rl_sq") { withSourcePruneAlways {
      val merge = spark.sql(
        """MERGE INTO rl_sq t USING rl_sq_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |""".stripMargin)
      // Spark's matching-rows subquery scans the PLAIN table (no static
      // predicates) — the rule must bound it to the candidate set, or
      // group discovery reads O(table) at 100 TB. The plain scan line is
      // the one with keyRangeFilters; the row-level scans assert their own
      // pruning in the sibling cases.
      val plan = merge.queryExecution.executedPlan.toString
      val subqScan = plan.linesIterator.find(l =>
        l.contains("keyRangeFilters") && l.contains("_file")).getOrElse(
        fail(s"no group-filter subquery scan in:\n$plan"))
      assert(subqScan.contains("files=1/4"),
        s"subquery scan must read candidates only, got: $subqScan")
    } }
    assert(t.read().count() == 401)
    assert(t.read().filter($"id" === 7L).as[(Long, String)].collect()
      .toSeq == Seq((7L, "updated")))
  }

  test("MERGE source bounds: a self-reading source with _file projected " +
      "is never bounded (exprId guard)") {
    val dir = tmpDir("rl") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      clusterByKey = true))
    t.create((1L to 400L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(4))
    withSqlTable(dir, "rl_self") { withSourcePruneAlways {
      // The source re-reads the TARGET with `_file` projected and SHIFTS
      // the join key: source row (id i ≤ 100) matches target id i+200.
      // Matching scans by name+table alone would bound the SOURCE side's
      // scan inside the group-filter build plan by candidate files
      // computed from the JOIN-KEY values (201..300) — reading rows
      // 201..300, shifting them to 401..500, matching nothing, and
      // silently losing the whole update. The exprId guard bounds only
      // the scan whose `_file` attribute the subquery projects.
      // (`s._file` in the clause condition keeps the projection alive
      // through column pruning.)
      spark.sql(
        """MERGE INTO rl_self t
          |USING (SELECT id + 200 AS id, name, _file FROM rl_self
          |       WHERE id <= 100) s
          |ON t.id = s.id
          |WHEN MATCHED AND s._file IS NOT NULL
          |  THEN UPDATE SET t.name = s.name
          |""".stripMargin)
    } }
    assert(t.read().count() == 400)
    // row-exact: every matched row carries its SOURCE row's name
    assert(t.read().filter($"id".between(201L, 300L))
      .select("id", "name").as[(Long, String)].collect().toSet ==
      (1L to 100L).map(i => (i + 200, s"n$i")).toSet)
    assert(t.read().filter(!$"id".between(201L, 300L))
      .select("id", "name").as[(Long, String)].collect().toSet ==
      ((1L to 200L) ++ (301L to 400L)).map(i => (i, s"n$i")).toSet)
  }

  test("extensions session: the operator-batch rule instance rebinds the " +
      "group-filter subquery planted after it (rebind path)") {
    // An extensions-built session carries TWO MergeSourcePrune instances:
    // the injected one runs in the operator-optimization batch BEFORE
    // Spark's PartitionPruning plants the group filter's
    // DynamicPruningExpression (it claims the one-shot bounds JOB), and
    // the extraOptimizations one (installed at table resolution) runs
    // after. Were the whole attempt one-shot, the later instance would
    // skip and the subquery scan would stay O(table) — this asserts the
    // per-pass rebind keeps it bounded.
    val base = graft.TestSpark.spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    try {
      val dir = tmpDir("rl") + "/t"
      val t = CowTable(s, dir, TableConfig("t", Seq("id"),
        clusterByKey = true))
      t.create(s.range(1, 401).selectExpr("id", "concat('n', id) AS name")
        .repartition(4))
      s.createDataFrame(Seq((7L, "updated"), (401L, "inserted")))
        .toDF("id", "name").createOrReplaceTempView("rl_ext_src")
      s.conf.set("graft.mergeSourcePruneMinFiles", "0")
      s.sql("DROP TABLE IF EXISTS rl_ext")
      s.sql(s"CREATE TABLE rl_ext USING graft LOCATION '$dir'")
      val merge = s.sql(
        """MERGE INTO rl_ext t USING rl_ext_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |""".stripMargin)
      val plan = merge.queryExecution.executedPlan.toString
      val subqScan = plan.linesIterator.find(l =>
        l.contains("keyRangeFilters") && l.contains("_file")).getOrElse(
        fail(s"no group-filter subquery scan in:\n$plan"))
      assert(subqScan.contains("files=1/4"),
        s"extensions-batch instance must rebind the subquery scan to the " +
          s"candidate set, got: $subqScan")
      assert(t.read().count() == 401)
      assert(t.read().filter(col("id") === 7L).select("name")
        .head().getString(0) == "updated")
    } finally {
      s.sql("DROP TABLE IF EXISTS rl_ext")
      s.conf.unset("graft.mergeSourcePruneMinFiles")
      org.apache.spark.sql.SparkSession.setDefaultSession(base)
      org.apache.spark.sql.SparkSession.setActiveSession(base)
    }
  }

  test("MERGE source bounds: over-cap key sets prune exactly") {
    val dir = tmpDir("rl") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      clusterByKey = true))
    t.create((1L to 400L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(4))
    val v1Files = t.manifest(1).files.map(_.path).toSet
    // both keys live in the lowest-range file; a rule capped at 1 key runs
    // the pruner's distributed join, which must still reduce to that file
    Seq((7L, "u7"), (12L, "u12")).toDF("id", "name")
      .createOrReplaceTempView("rl_mm_src")
    val prior = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prior.filterNot(_.isInstanceOf[MergeSourcePrune]) :+
        new MergeSourcePrune(spark, maxKeys = 1)
    try withSqlTable(dir, "rl_mm") {
      withoutRuntimeGroupFilter {
        spark.sql(
          """MERGE INTO rl_mm t USING rl_mm_src s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *
            |""".stripMargin)
      }
    } finally spark.experimental.extraOptimizations = prior
    val carried = t.manifest(2).files.map(_.path).toSet.intersect(v1Files)
    assert(carried.size == 3,
      s"over-cap join must carry 3 of 4 files, got ${carried.size}")
    assert(t.read().count() == 400)
    assert(t.read().filter($"id".isin(7L, 12L)).as[(Long, String)]
      .collect().toSet == Set((7L, "u7"), (12L, "u12")))
  }

  test("MERGE source bounds decline on NOT MATCHED BY SOURCE") {
    val dir = tmpDir("rl") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      clusterByKey = true))
    t.create((1L to 400L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(4))
    val v1Files = t.manifest(1).files.map(_.path).toSet
    Seq((7L, "seen")).toDF("id", "name")
      .createOrReplaceTempView("rl_nmbs_src")
    withSqlTable(dir, "rl_nmbs") {
      withoutRuntimeGroupFilter {
        spark.sql(
          """MERGE INTO rl_nmbs t USING rl_nmbs_src s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET t.name = s.name
            |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET t.name = 'stale'
            |""".stripMargin)
      }
    }
    // rows the source can't reach ARE affected — the prune must have
    // declined, every file rewritten, and every row marked
    val carried = t.manifest(2).files.map(_.path).toSet.intersect(v1Files)
    assert(carried.isEmpty,
      s"NMBS merge must rewrite all groups, carried $carried")
    assert(t.read().filter($"name" === "stale").count() == 399)
    assert(t.read().filter($"id" === 7L).as[(Long, String)].collect()
      .toSeq == Seq((7L, "seen")))
  }

  test("property: source-bounded MERGE matches a relational replay on " +
      "random tables and batches") {
    // the round-13 prune stack (source bounds + bounded group-filter
    // subquery) must be invisible to results across random layouts: key
    // counts, file counts, clustered or not, batches mixing updates,
    // inserts, and keys beyond every file's range (the all-pruned edge)
    val rnd = new scala.util.Random(20260815L)
    for (i <- 1 to 4) {
      val n = 50 + rnd.nextInt(300)
      val nFiles = 1 + rnd.nextInt(6)
      val dir = tmpDir("rlprop") + s"/t$i"
      val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
        clusterByKey = rnd.nextBoolean()))
      val base = (1L to n).map(k => (k, s"n$k"))
      t.create(base.toDF("id", "name").repartition(nFiles))
      val batch = (1 to 1 + rnd.nextInt(40)).map { _ =>
        val k = 1L + rnd.nextInt(n + 60) // keys past n insert
        (k.toLong, s"u$k")
      }.distinctBy(_._1)
      batch.toDF("id", "name").createOrReplaceTempView(s"rlp_src_$i")
      withSqlTable(dir, s"rlp_$i") {
        withSourcePruneAlways {
          spark.sql(
            s"""MERGE INTO rlp_$i t USING rlp_src_$i s ON t.id = s.id
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *
               |""".stripMargin)
        }
      }
      val bm = batch.toMap
      val expected =
        base.map { case (k, v) => k -> bm.getOrElse(k, v) }.toMap ++
          bm.filter { case (k, _) => k > n }
      val got = t.read().as[(Long, String)].collect().toMap
      assert(got == expected,
        s"case $i (n=$n files=$nFiles batch=${batch.size}): " +
          s"missing=${(expected.keySet -- got.keySet).take(5)} " +
          s"extra=${(got.keySet -- expected.keySet).take(5)} " +
          s"wrong=${expected.collect { case (k, v)
            if got.get(k).exists(_ != v) => k }.take(5)}")
    }
  }

  test("SQL UPDATE rewrites in place") {
    val dir = tmpDir("rl") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    t.create(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "v"))
    withSqlTable(dir, "rl_upd") {
      spark.sql("UPDATE rl_upd SET v = v * 10 WHERE id = 2")
      assert(spark.sql("SELECT * FROM rl_upd").as[(Long, String, Double)]
        .collect().toSet == Set((1L, "a", 1.0), (2L, "b", 20.0)))
    }
  }

  test("SQL DELETE removes rows transactionally") {
    val dir = tmpDir("rl") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    t.create((1L to 10L).map(i => (i, s"n$i")).toDF("id", "name"))
    withSqlTable(dir, "rl_del") {
      spark.sql("DELETE FROM rl_del WHERE id >= 8")
      assert(spark.sql("SELECT count(*) FROM rl_del").as[Long].head() == 7L)
    }
    // the pre-delete snapshot is still time-travelable
    assert(t.readVersion(1).count() == 10)
    assert(t.read().count() == 7)
  }

  test("MERGE INTO matches the Scala-API upsert exactly") {
    val base = (1L to 100L).map(i => (i, s"n$i", i * 1.0))
      .toDF("id", "name", "v")
    val batch = Seq((5L, "x5", 50.0), (101L, "x101", 1010.0))
      .toDF("id", "name", "v")
    // Scala API path
    val dirA = tmpDir("rl") + "/a"
    val ta = CowTable(spark, dirA, TableConfig("a", Seq("id")))
    ta.create(base); ta.upsert(batch)
    // SQL MERGE path
    val dirB = tmpDir("rl") + "/b"
    val tb = CowTable(spark, dirB, TableConfig("b", Seq("id")))
    tb.create(base)
    batch.createOrReplaceTempView("rl_batch")
    withSqlTable(dirB, "rl_sqlmerge") {
      spark.sql(
        """MERGE INTO rl_sqlmerge t USING rl_batch s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |""".stripMargin)
    }
    assert(ta.read().exceptAll(tb.read()).isEmpty &&
      tb.read().exceptAll(ta.read()).isEmpty)
  }
}
