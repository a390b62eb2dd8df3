package graft.sources

import graft.SparkSpec
import graft.storage.{CowTable, TableConfig}
import org.apache.spark.sql.functions._

class GraftDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def mixedDf = Seq(
    (1L, "alpha", 1.5, "2024-01-01 10:00:00", "10.25", true),
    (2L, "beta", -2.5, "2024-02-01 11:30:00", "-3.50", false),
    (3L, null.asInstanceOf[String], 0.0, null.asInstanceOf[String],
      null.asInstanceOf[String], true))
    .toDF("id", "name", "x", "ts_s", "amt_s", "flag")
    .select($"id", $"name", $"x", $"ts_s".cast("timestamp").as("ts"),
      $"amt_s".cast("decimal(10,2)").as("amt"), $"flag")

  test("format(graft) round-trips every primitive type incl. nulls") {
    val dir = tmpDir("dsv2")
    CowTable(spark, dir + "/t", TableConfig("t", Seq("id"))).create(mixedDf)
    val back = spark.read.format("graft").load(dir + "/t")
    assert(back.schema == mixedDf.schema)
    assert(back.exceptAll(mixedDf).isEmpty && mixedDf.exceptAll(back).isEmpty,
      s"mismatch:\n${back.collect().mkString("\n")}")
  }

  test("key-range filters prune files at the manifest level (plan-visible)") {
    val dir = tmpDir("dsv2")
    val cfg = TableConfig("t", Seq("id"), clusterByKey = true)
    CowTable(spark, dir + "/t", cfg).create(
      (1L to 400L).map(i => (i, s"n$i")).toDF("id", "name").repartition(4))
    val scan = spark.read.format("graft").load(dir + "/t")
      .filter($"id" >= 301L)
    // manifest skip surfaces in the scan description
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("files=1/4"), s"expected manifest skip in:\n$plan")
    // and the result is exactly the filtered table (residual re-applied)
    assert(scan.as[(Long, String)].collect().toSet ==
      (301L to 400L).map(i => (i, s"n$i")).toSet)
    // point lookup via EqualTo prunes to one file too
    val eq = spark.read.format("graft").load(dir + "/t").filter($"id" === 42L)
    assert(eq.queryExecution.executedPlan.toString.contains("files=1/4"))
    assert(eq.as[(Long, String)].collect().toSeq == Seq((42L, "n42")))
  }

  test("COUNT(*) answers from the manifest: zero files read, DV-exact") {
    val dir = tmpDir("dsv2")
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("id"),
      changeDataFeed = true, deletionVectors = true))
    t.create((1L to 200L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(2))
    t.delete(Seq(5L, 6L).toDF("id")) // live rows now come from rows − dvRows
    val df = spark.read.format("graft").load(dir + "/t")
    val counted = df.groupBy().count()
    val plan = counted.queryExecution.executedPlan.toString
    assert(plan.contains("manifest_agg_"),
      s"expected the manifest count scan in:\n$plan")
    assert(counted.head().getLong(0) == 198L)
    // a filtered count must NOT push (filters stay residual → no pushdown)
    val filtered = df.filter($"id" <= 10).groupBy().count()
    assert(!filtered.queryExecution.executedPlan.toString
      .contains("manifest_agg_"))
    assert(filtered.head().getLong(0) == 8L) // 1..10 minus deleted 5,6
    // grouped counts never push either
    val grouped = df.groupBy($"name").count()
    assert(!grouped.queryExecution.executedPlan.toString
      .contains("manifest_agg_"))
    assert(grouped.count() == 198L)
  }

  test("SELECT DISTINCT partition key answers from the manifest, zero IO") {
    val dir = tmpDir("dsv2")
    CowTable(spark, dir + "/t", TableConfig("t", Seq("id"),
      partitionKey = Some("seg"))).create(Seq(
      (1L, "A", "x"), (2L, "A", "y"), (3L, "B", "z"),
      (4L, null.asInstanceOf[String], "w")).toDF("id", "seg", "name"))
    val df = spark.read.format("graft").load(dir + "/t")
      .select("seg").distinct()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"), plan) // manifest answer
    assert(!plan.contains("BatchScan"), plan)     // zero files read
    assert(df.as[Option[String]].collect().toSet ==
      Set(Some("A"), Some("B"), None))
  }

  test("a fully DV-deleted partition vanishes from DISTINCT and grouped " +
      "COUNT manifest answers") {
    val dir = tmpDir("dsv2")
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("id"),
      partitionKey = Some("seg"), changeDataFeed = true,
      deletionVectors = true))
    t.create(Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"), (5L, "C"))
      .toDF("id", "seg"))
    // kill partition B entirely via deletion vectors: its files stay in
    // the manifest (liveRows == 0) but a real scan has no B rows left
    t.delete(Seq(3L, 4L).toDF("id"))
    val df = spark.read.format("graft").load(dir + "/t")
    val d = df.select("seg").distinct()
    assert(d.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      d.queryExecution.executedPlan.toString) // still the manifest answer
    assert(d.as[String].collect().toSet == Set("A", "C"))
    val g = df.groupBy($"seg").count()
    assert(g.queryExecution.executedPlan.toString.contains("manifest_agg_"))
    assert(g.as[(String, Long)].collect().toSet ==
      Set(("A", 2L), ("C", 1L))) // no ("B", 0) ghost group
  }

  test("MIN/MAX of the leading key answer from footer stats; DV rejects") {
    val dir = tmpDir("dsv2")
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("id")))
    t.create((1L to 400L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(4))
    val df = spark.read.format("graft").load(dir + "/t")
    val agg = df.agg(min($"id"), max($"id"), count(lit(1)))
    assert(agg.queryExecution.executedPlan.toString.contains("manifest_agg_"))
    assert(agg.as[(Long, Long, Long)].head() == (1L, 400L, 400L))
    // a non-key column never pushes (no stats)
    val byName = df.agg(min($"name"))
    assert(!byName.queryExecution.executedPlan.toString
      .contains("manifest_agg_"))
    assert(byName.head().getString(0) == "n1")

    // deletion vectors poison the extremum → whole aggregation falls back
    val dv = CowTable(spark, dir + "/dv", TableConfig("dv", Seq("id"),
      changeDataFeed = true, deletionVectors = true))
    dv.create((1L to 50L).map(i => (i, s"n$i")).toDF("id", "name"))
    dv.delete(Seq(1L, 50L).toDF("id")) // both extrema deleted
    val dvDf = spark.read.format("graft").load(dir + "/dv")
    val dvAgg = dvDf.agg(min($"id"), max($"id"))
    assert(!dvAgg.queryExecution.executedPlan.toString
      .contains("manifest_agg_"))
    assert(dvAgg.as[(Long, Long)].head() == (2L, 49L))
  }

  test("GROUP BY the partition key answers per-partition rollups from the manifest") {
    val dir = tmpDir("dsv2")
    val t = CowTable(spark, dir + "/p",
      TableConfig("p", Seq("id"), partitionKey = Some("cat")))
    t.create((1L to 300L).map(i => (i, s"c${i % 3}", i * 1.0))
      .toDF("id", "cat", "v").repartition(4))
    val df = spark.read.format("graft").load(dir + "/p")
    val g = df.groupBy($"cat").agg(count(lit(1)).as("n"),
      min($"id").as("mn"), max($"id").as("mx"))
    val plan = g.queryExecution.executedPlan.toString
    assert(plan.contains("manifest_agg_"),
      s"expected the grouped manifest pushdown in:\n$plan")
    assert(g.as[(String, Long, Long, Long)].collect().toSet == Set(
      ("c0", 100L, 3L, 300L), ("c1", 100L, 1L, 298L),
      ("c2", 100L, 2L, 299L)))
    // grouped COUNT on a deletion-vectored partitioned table still pushes
    // (live counts ride in the manifest); MIN/MAX falls back
    val dv = CowTable(spark, dir + "/pdv", TableConfig("pdv", Seq("id"),
      partitionKey = Some("cat"), changeDataFeed = true,
      deletionVectors = true))
    dv.create((1L to 90L).map(i => (i, s"c${i % 3}")).toDF("id", "cat"))
    dv.delete(Seq(3L, 6L).toDF("id")) // two rows of cat c0
    val dvG = spark.read.format("graft").load(dir + "/pdv")
      .groupBy($"cat").count()
    assert(dvG.queryExecution.executedPlan.toString.contains("manifest_agg_"))
    assert(dvG.as[(String, Long)].collect().toSet == Set(
      ("c0", 28L), ("c1", 30L), ("c2", 30L)))
    val dvMin = spark.read.format("graft").load(dir + "/pdv")
      .groupBy($"cat").agg(min($"id"))
    assert(!dvMin.queryExecution.executedPlan.toString
      .contains("manifest_agg_"))
    assert(dvMin.as[(String, Long)].collect().toSet == Set(
      ("c0", 9L), ("c1", 1L), ("c2", 2L)))
    // partition-spec evolution leaves old-layout files without a path
    // value: the pushdown must reject, the plain scan stays exact
    val flat = CowTable(spark, dir + "/f", TableConfig("f", Seq("id")))
    flat.create((1L to 20L).map(i => (i, s"c${i % 2}")).toDF("id", "cat"))
    val evolved = flat.alterPartitionKey(Some("cat"))
    val eg = spark.read.format("graft").load(dir + "/f").groupBy($"cat").count()
    assert(!eg.queryExecution.executedPlan.toString.contains("manifest_agg_"))
    assert(eg.as[(String, Long)].collect().toSet ==
      Set(("c0", 10L), ("c1", 10L)))
  }

  test("MIN/MAX of statsColumns answer from manifest ranges; nulls/strings reject") {
    val dir = tmpDir("dsv2")
    val t = CowTable(spark, dir + "/s", TableConfig("s", Seq("id"),
      statsColumns = Seq("v", "ts", "label")))
    t.create((1L to 300L).map(i => (i, i * 0.5 - 20.0,
      s"2024-01-${i % 28 + 1} 10:00:00", s"L$i"))
      .toDF("id", "v", "ts_s", "label")
      .select($"id", $"v", $"ts_s".cast("timestamp").as("ts"), $"label")
      .repartition(4))
    val df = spark.read.format("graft").load(dir + "/s")
    // numeric + temporal statsColumns: exact extrema, zero files read
    val agg = df.agg(min($"v").as("mnv"), max($"v").as("mxv"),
      min($"ts").as("mnt"), max($"ts").as("mxt"), count(lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("manifest_agg_"),
      s"expected statsColumn extrema pushdown in:\n$plan")
    val r = agg.head()
    assert(r.getDouble(0) == -19.5 && r.getDouble(1) == 130.0)
    assert(r.getTimestamp(2).toString.startsWith("2024-01-01 10:00:00") &&
      r.getTimestamp(3).toString.startsWith("2024-01-28 10:00:00"))
    assert(r.getLong(4) == 300L)
    // per-partition extrema of a statsColumn push too
    val p = CowTable(spark, dir + "/sp", TableConfig("sp", Seq("id"),
      partitionKey = Some("cat"), statsColumns = Seq("v")))
    p.create((1L to 90L).map(i => (i, s"c${i % 3}", i * 2.0))
      .toDF("id", "cat", "v").repartition(3))
    val g = spark.read.format("graft").load(dir + "/sp")
      .groupBy($"cat").agg(min($"v").as("mn"), max($"v").as("mx"))
    assert(g.queryExecution.executedPlan.toString.contains("manifest_agg_"))
    assert(g.as[(String, Double, Double)].collect().toSet == Set(
      ("c0", 6.0, 180.0), ("c1", 2.0, 176.0), ("c2", 4.0, 178.0)))
    // a file that is provably ALL-NULL for the column (null count == rows)
    // has no range but contributes nothing — the extremum still pushes
    val nt = CowTable(spark, dir + "/n", TableConfig("n", Seq("id"),
      statsColumns = Seq("v")))
    nt.create(Seq((1L, Some(5.0)), (2L, Some(9.0))).toDF("id", "v"))
    nt.upsert(Seq((3L, None: Option[Double])).toDF("id", "v"))
    val nAgg = spark.read.format("graft").load(dir + "/n").agg(max($"v"))
    assert(nAgg.queryExecution.executedPlan.toString
      .contains("manifest_agg_"))
    assert(nAgg.head().getDouble(0) == 9.0)
    // STRING statsColumns never push an extremum (truncation-unsafe)
    val sMin = df.agg(min($"label"))
    assert(!sMin.queryExecution.executedPlan.toString
      .contains("manifest_agg_"))
    assert(sMin.head().getString(0) == "L1")
  }

  test("CBO column statistics flow from the manifest (no ANALYZE pass)") {
    val dir = tmpDir("dsv2")
    val t = CowTable(spark, dir + "/cs", TableConfig("cs", Seq("id"),
      partitionKey = Some("cat"), statsColumns = Seq("v")))
    t.create((1L to 300L).map(i =>
      (i, s"c${i % 3}", if (i % 10 == 0) None else Some(i * 2.0)))
      .toDF("id", "cat", "v").repartition(4))
    val df = spark.read.format("graft").load(dir + "/cs")
    val prev = (spark.conf.getOption("spark.sql.cbo.enabled"),
      spark.conf.getOption("spark.sql.cbo.planStats.enabled"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.planStats.enabled", "true")
    try {
      val stats = df.queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(300)))
      val byName = stats.attributeStats.map { case (a, s) => a.name -> s }
      val id = byName("id")
      assert(id.distinctCount.contains(BigInt(300))) // pk: ndv == rows
      assert(id.min.contains(1L) && id.max.contains(300L))
      assert(id.nullCount.contains(BigInt(0)))
      val v = byName("v")
      assert(v.min.contains(2.0) && v.max.contains(598.0)) // 300 is null
      assert(v.nullCount.contains(BigInt(30)))
      val cat = byName("cat")
      assert(cat.distinctCount.contains(BigInt(3)))
      assert(cat.nullCount.contains(BigInt(0)))
    } finally {
      def restore(k: String, o: Option[String]) =
        o.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      restore("spark.sql.cbo.enabled", prev._1)
      restore("spark.sql.cbo.planStats.enabled", prev._2)
    }
  }

  test("ndvSketch: per-file KMV sketches give CBO distinctCount on " +
      "non-key statsColumns, merged over the PRUNED file set") {
    val dir = tmpDir("dsv2")
    val t = CowTable(spark, dir + "/nv", TableConfig("nv", Seq("id"),
      statsColumns = Seq("grp"), ndvSketch = true))
    // 4 files of 100 rows; grp has 40 true distincts, disjointly 10/file
    t.create((1L to 400L).map(i => (i, s"g${(i - 1) / 10 % 40}"))
      .toDF("id", "grp").repartitionByRange(4, $"id"))
    val m = t.manifest(t.currentVersion)
    assert(m.ndvSketch, "flag must be durable in the manifest")
    assert(m.files.forall(_.ndv.contains("grp")),
      s"every file needs a grp sketch: ${m.files.map(_.ndv.keySet)}")
    assert(m.files.forall(_.ndv("grp").length <= CowTable.NdvK))
    val df = spark.read.format("graft").load(dir + "/nv")
    val prev = (spark.conf.getOption("spark.sql.cbo.enabled"),
      spark.conf.getOption("spark.sql.cbo.planStats.enabled"))
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.planStats.enabled", "true")
    try {
      def ndvOf(d: org.apache.spark.sql.DataFrame): BigInt =
        d.queryExecution.optimizedPlan.stats.attributeStats
          .collectFirst { case (a, s) if a.name == "grp" =>
            s.distinctCount.get }.get
      // 40 < k=64 ⇒ the merged sketch is EXHAUSTIVE: the estimate is exact
      assert(ndvOf(df.select($"grp")) == BigInt(40), ndvOf(df.select($"grp")))
      // pruning shrinks the estimate with the file set: one file's range
      // holds 10 distincts — the merged-sketch NDV follows the PRUNED set
      val pruned = df.filter($"id" <= 100L).select($"grp", $"id")
      val prunedNdv = pruned.queryExecution.optimizedPlan.stats
        .attributeStats.collectFirst { case (a, s) if a.name == "grp" =>
          s.distinctCount }.flatten
      assert(prunedNdv.exists(n => n >= 10 && n <= 20), s"got $prunedNdv")
    } finally {
      def restore(k: String, o: Option[String]) =
        o.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      restore("spark.sql.cbo.enabled", prev._1)
      restore("spark.sql.cbo.planStats.enabled", prev._2)
    }
    // a table WITHOUT the flag writes no sketches (zero write overhead)
    val t2 = CowTable(spark, dir + "/off", TableConfig("off", Seq("id"),
      statsColumns = Seq("grp")))
    t2.create((1L to 50L).map(i => (i, s"g$i")).toDF("id", "grp"))
    assert(t2.manifest(1).files.forall(_.ndv.isEmpty))
  }

  test("null-count stats: COUNT(col) pushes, IS [NOT] NULL prunes files") {
    val dir = tmpDir("dsv2")
    val t = CowTable(spark, dir + "/n", TableConfig("n", Seq("id"),
      statsColumns = Seq("v")))
    // file 1: v fully populated; file 2: v ALL NULL
    t.create((1L to 100L).map(i => (i, Some(i * 1.0))).toDF("id", "v")
      .coalesce(1))
    t.upsert((101L to 120L).map(i => (i, None: Option[Double]))
      .toDF("id", "v").coalesce(1))
    val df = spark.read.format("graft").load(dir + "/n")
    // COUNT(col) answers from footer null counts — zero files read
    val c = df.agg(count($"v").as("nv"), count($"id").as("nk"),
      count(lit(1)).as("n"))
    assert(c.queryExecution.executedPlan.toString.contains("manifest_agg_"),
      s"expected COUNT(col) pushdown in:\n${c.queryExecution.executedPlan}")
    assert(c.as[(Long, Long, Long)].head() == (100L, 120L, 120L))
    // IS NOT NULL skips the all-null file; IS NULL skips the no-null file
    val nn = df.filter($"v".isNotNull)
    assert(nn.queryExecution.executedPlan.toString.contains("files=1/2"),
      s"expected null-count skip in:\n${nn.queryExecution.executedPlan}")
    assert(nn.count() == 100L)
    val isn = df.filter($"v".isNull)
    assert(isn.queryExecution.executedPlan.toString.contains("files=1/2"))
    assert(isn.select("id").as[Long].collect().toSet ==
      (101L to 120L).toSet)
    // MIN/MAX still push with an all-null file in the set (it provably
    // contributes nothing) — the round-trip the null counts enable
    val mm = df.agg(min($"v"), max($"v"))
    assert(mm.queryExecution.executedPlan.toString.contains("manifest_agg_"))
    assert(mm.as[(Double, Double)].head() == (1.0, 100.0))
    // deletion vectors reject COUNT(col) (deleted rows' null-ness unknown)
    val d = CowTable(spark, dir + "/dv", TableConfig("dv", Seq("id"),
      changeDataFeed = true, deletionVectors = true,
      statsColumns = Seq("v")))
    d.create((1L to 50L).map(i =>
      (i, if (i % 5 == 0) None else Some(i * 1.0))).toDF("id", "v"))
    d.delete(Seq(Tuple1(7L)).toDF("id"))
    val dc = spark.read.format("graft").load(dir + "/dv").agg(count($"v"))
    assert(!dc.queryExecution.executedPlan.toString.contains("manifest_agg_"))
    assert(dc.as[Long].head() == 39L) // 40 non-null minus deleted id=7
  }

  test("partition filters consume exactly: filtered rollups push to the manifest") {
    val dir = tmpDir("dsv2")
    val t = CowTable(spark, dir + "/pf",
      TableConfig("pf", Seq("id"), partitionKey = Some("cat")))
    t.create((1L to 300L).map(i => (i, s"c${i % 3}", i * 1.0))
      .toDF("id", "cat", "v").repartition(4))
    val df = spark.read.format("graft").load(dir + "/pf")
    // WHERE on the partition key + COUNT(*): the filter is consumed and
    // the count answers from the pruned manifest — zero files read
    val c = df.filter($"cat" === "c1").groupBy().count()
    assert(c.queryExecution.executedPlan.toString.contains("manifest_agg_"),
      s"expected pushed filtered count in:\n${c.queryExecution.executedPlan}")
    assert(c.head().getLong(0) == 100L)
    // grouped variant with IN
    val g = df.filter($"cat".isin("c0", "c2")).groupBy($"cat")
      .agg(count(lit(1)).as("n"), min($"id").as("mn"))
    assert(g.queryExecution.executedPlan.toString.contains("manifest_agg_"))
    assert(g.as[(String, Long, Long)].collect().toSet ==
      Set(("c0", 100L, 3L), ("c2", 100L, 2L)))
    // non-aggregate reads through a consumed filter stay exact
    assert(df.filter($"cat" === "c1").count() == 100L)
    assert(df.filter($"cat" === "c1" && $"id" <= 10)
      .select("id").as[Long].collect().toSet == Set(1L, 4L, 7L, 10L))
    // a key filter always stays residual and blocks pushdown
    val k = df.filter($"id" <= 10).groupBy().count()
    assert(!k.queryExecution.executedPlan.toString.contains("manifest_agg_"))
    assert(k.head().getLong(0) == 10L)
    // evolved table (flat-layout files): the filter must NOT consume —
    // conservative path, exact results
    val flat = CowTable(spark, dir + "/pf2", TableConfig("pf2", Seq("id")))
    flat.create((1L to 20L).map(i => (i, s"c${i % 2}")).toDF("id", "cat"))
    flat.alterPartitionKey(Some("cat"))
    val e = spark.read.format("graft").load(dir + "/pf2")
      .filter($"cat" === "c1").groupBy().count()
    assert(!e.queryExecution.executedPlan.toString.contains("manifest_agg_"))
    assert(e.head().getLong(0) == 10L)
  }

  test("column pruning reaches the parquet projection") {
    val dir = tmpDir("dsv2")
    CowTable(spark, dir + "/t", TableConfig("t", Seq("id"))).create(mixedDf)
    val proj = spark.read.format("graft").load(dir + "/t").select("id", "name")
    assert(proj.queryExecution.executedPlan.toString
      .contains("ReadSchema: struct<id: bigint, name: string>") ||
      proj.schema.fieldNames.toSeq == Seq("id", "name"))
    assert(proj.as[(Long, Option[String])].collect().toSet ==
      Set((1L, Some("alpha")), (2L, Some("beta")), (3L, None)))
  }

  test("schema evolution: files predating a column are null-filled") {
    val dir = tmpDir("dsv2")
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("id")))
    t.create((1L to 100L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartitionByRange(2, col("id")))
    t.upsert(Seq((1L, "u1", "fresh")).toDF("id", "name", "tag"))
    val back = spark.read.format("graft").load(dir + "/t")
    assert(back.columns.toSeq == Seq("id", "name", "tag"))
    val rows = back.as[(Long, String, Option[String])].collect()
    assert(rows.length == 100)
    assert(rows.count(_._3.isDefined) == 1)
    assert(rows.exists(r => r._1 == 80L && r._3.isEmpty)) // carried-over file
  }

  test("hive-partitioned tables reconstruct the partition column from paths") {
    val dir = tmpDir("dsv2")
    val cfg = TableConfig("t", Seq("id"), partitionKey = Some("seg"))
    CowTable(spark, dir + "/t", cfg).create(
      Seq((1L, "A", 1.0), (2L, "B", 2.0), (3L, "A", 3.0))
        .toDF("id", "seg", "v"))
    val back = spark.read.format("graft").load(dir + "/t")
    assert(back.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "A", 1.0), (2L, "B", 2.0), (3L, "A", 3.0)))
  }

  test("partition-column filters prune files from the manifest path values") {
    val dir = tmpDir("dsv2")
    val cfg = TableConfig("t", Seq("id"), partitionKey = Some("seg"))
    CowTable(spark, dir + "/t", cfg).create(
      (1L to 90L).map(i => (i, s"s${i % 3}", i * 1.0)).toDF("id", "seg", "v"))
    val scan = spark.read.format("graft").load(dir + "/t")
      .filter($"seg" === "s1")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("files=1/3"), s"expected partition skip in:\n$plan")
    assert(scan.count() == 30)
    // IN-list prunes to two partitions
    val in2 = spark.read.format("graft").load(dir + "/t")
      .filter($"seg".isin("s0", "s2"))
    assert(in2.queryExecution.executedPlan.toString.contains("files=2/3"))
    assert(in2.count() == 60)
    // a residual non-partition filter composes (conjunction)
    val mix = spark.read.format("graft").load(dir + "/t")
      .filter($"seg" === "s1" && $"v" > 45.0)
    assert(mix.queryExecution.executedPlan.toString.contains("files=1/3"))
    assert(mix.count() == 15)
  }

  test("null partition values are pruned by non-null filters, kept on scan") {
    val dir = tmpDir("dsv2")
    val cfg = TableConfig("t", Seq("id"), partitionKey = Some("seg"))
    CowTable(spark, dir + "/t", cfg).create(
      Seq((1L, "A"), (2L, null.asInstanceOf[String]), (3L, "B"))
        .toDF("id", "seg"))
    val all = spark.read.format("graft").load(dir + "/t")
    assert(all.count() == 3) // null partition readable
    val eq = all.filter($"seg" === "A")
    assert(eq.queryExecution.executedPlan.toString.contains("files=1/3"))
    assert(eq.as[(Long, String)].collect().toSeq == Seq((1L, "A")))
  }

  test("versionAsOf / timestampAsOf options time-travel") {
    val dir = tmpDir("dsv2")
    def utcMs(s: String): Long = java.time.LocalDateTime
      .parse(s.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val ticks = Iterator(
      utcMs("2024-05-01 10:00:00"), utcMs("2024-05-01 11:00:00"))
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("id")))
      .withClock(() => ticks.next())
    t.create(Seq((1L, "v1")).toDF("id", "name"))
    t.upsert(Seq((1L, "v2")).toDF("id", "name"))
    def load(opts: (String, String)*) = {
      val r = spark.read.format("graft")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load(dir + "/t").as[(Long, String)].collect().toSeq
    }
    assert(load() == Seq((1L, "v2")))
    assert(load("versionAsOf" -> "1") == Seq((1L, "v1")))
    // epoch millis AND timestamp/date strings (Delta accepts both; UTC)
    assert(load("timestampAsOf" ->
      (utcMs("2024-05-01 10:30:00")).toString) == Seq((1L, "v1")))
    assert(load("timestampAsOf" -> "2024-05-01 10:30:00") == Seq((1L, "v1")))
    assert(load("timestampAsOf" -> "2024-05-01 11:00:00") == Seq((1L, "v2")))
    assert(load("timestampAsOf" -> "2024-05-02") == Seq((1L, "v2")))
  }

  test("SQL surface: CREATE TABLE ... USING graft LOCATION") {
    val dir = tmpDir("dsv2")
    CowTable(spark, dir + "/t", TableConfig("t", Seq("id")))
      .create(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    spark.sql("DROP TABLE IF EXISTS graft_dsv2_sql")
    try {
      spark.sql(
        s"CREATE TABLE graft_dsv2_sql USING graft LOCATION '${dir + "/t"}'")
      assert(spark.sql(
        "SELECT name FROM graft_dsv2_sql WHERE id = 2 ORDER BY name")
        .as[String].collect().toSeq == Seq("b"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_dsv2_sql")
  }

  test("scans are COLUMNAR (vectorized) by default; option falls back to rows") {
    val dir = tmpDir("dsv2")
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("id")))
    t.create(mixedDf)
    // evolved-in column: one file predates `tag` (null vector path)
    t.upsert(Seq((1L, "alpha", 1.5, "2024-01-01 10:00:00", "10.25", true, "x"))
      .toDF("id", "name", "x", "ts_s", "amt_s", "flag", "tag")
      .select($"id", $"name", $"x", $"ts_s".cast("timestamp").as("ts"),
        $"amt_s".cast("decimal(10,2)").as("amt"), $"flag", $"tag"))
    val cols = spark.read.format("graft").load(dir + "/t")
    val plan = cols.queryExecution.executedPlan
    assert(plan.toString.contains("columnar=true"), s"scan not columnar:\n$plan")
    assert(plan.collectFirst {
      case c: org.apache.spark.sql.execution.ColumnarToRowExec => c
    }.nonEmpty, s"no ColumnarToRow above the scan:\n$plan")
    val rows = spark.read.format("graft").option("columnar", "false")
      .load(dir + "/t")
    assert(rows.queryExecution.executedPlan.toString.contains("columnar=false"))
    // both readers must agree exactly (types, nulls, evolved column)
    assert(cols.exceptAll(rows).isEmpty && rows.exceptAll(cols).isEmpty,
      s"columnar/row divergence:\n${cols.collect().mkString("\n")}\nvs\n" +
        rows.collect().mkString("\n"))
    assert(cols.count() == 3)
  }

  test("columnar scan reconstructs hive partition values as constants") {
    val dir = tmpDir("dsv2")
    val cfg = TableConfig("t", Seq("id"), partitionKey = Some("seg"))
    CowTable(spark, dir + "/t", cfg).create(
      Seq((1L, "A", 1.0), (2L, "B", 2.0), (3L, null.asInstanceOf[String], 3.0))
        .toDF("id", "seg", "v"))
    val back = spark.read.format("graft").load(dir + "/t")
    assert(back.queryExecution.executedPlan.toString.contains("columnar=true"))
    assert(back.as[(Long, Option[String], Double)].collect().toSet ==
      Set((1L, Some("A"), 1.0), (2L, Some("B"), 2.0), (3L, None, 3.0)))
    // projection ordering interleaving partition + data columns permutes right
    val proj = back.select("seg", "id")
    assert(proj.as[(Option[String], Long)].collect().toSet ==
      Set((Some("A"), 1L), (Some("B"), 2L), (None, 3L)))
  }

  test("scan reports manifest statistics; pruning shrinks the estimate") {
    val dir = tmpDir("dsv2")
    val cfg = TableConfig("t", Seq("id"), partitionKey = Some("seg"))
    CowTable(spark, dir + "/t", cfg).create(
      (1L to 100L).map(i => (i, if (i <= 50) "A" else "B", s"row$i"))
        .toDF("id", "seg", "name"))

    def stats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.computeStats()
      }.get

    val full = stats(spark.read.format("graft").load(dir + "/t"))
    assert(full.rowCount.contains(BigInt(100)), full)
    assert(full.sizeInBytes > 0 && full.sizeInBytes < (1L << 20), full)

    val pruned = stats(spark.read.format("graft").load(dir + "/t")
      .filter($"seg" === "A"))
    assert(pruned.rowCount.contains(BigInt(50)), pruned)
    assert(pruned.sizeInBytes < full.sizeInBytes, s"$pruned vs $full")
  }

  test("small graft table auto-broadcasts in a join (no hint)") {
    val dir = tmpDir("dsv2")
    CowTable(spark, dir + "/t", TableConfig("dim", Seq("id"))).create(
      (1L to 20L).map(i => (i, s"dim$i")).toDF("id", "label"))
    val facts = (1L to 1000L).map(i => (i % 20 + 1, i)).toDF("id", "v")
    val joined = facts.join(
      spark.read.format("graft").load(dir + "/t"), "id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(joined.count() == 1000L)
  }

  test("runtime V2 filtering prunes files by key stats and partition path") {
    import org.apache.spark.sql.connector.expressions.{Expressions, Literal => V2Literal}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.types.{DataType, LongType}
    // LiteralValue is private[sql]; the public Literal interface suffices
    def v2lit[T](v: T, dt: DataType): V2Literal[T] = new V2Literal[T] {
      override def value(): T = v
      override def dataType(): DataType = dt
    }
    val dir = tmpDir("dsv2")
    val cfg = TableConfig("t", Seq("id"), partitionKey = Some("seg"),
      clusterByKey = true)
    val t = CowTable(spark, dir + "/t", cfg)
    t.create((1L to 100L).map(i => (i, if (i <= 50) "A" else "B", s"n$i"))
      .toDF("id", "seg", "name"))
    val m = t.manifest(t.currentVersion)
    // hive layout: one file per partition value, disjoint key ranges
    assert(m.files.size == 2, m.files.map(_.path))

    def freshScan() = new GraftScan(
      java.nio.file.Paths.get(dir + "/t"), m, t.read().schema,
      FilePredicate(m, t.read().schema, Nil))
    def partsOf(s: GraftScan) = s.planInputPartitions().length

    // key IN (3): only files whose [min,max] admit 3 survive
    val byKey = freshScan()
    val all = partsOf(byKey)
    byKey.filter(Array(new Predicate("IN", Array(
      Expressions.column("id"), v2lit(3L, LongType)))))
    assert(partsOf(byKey) < all, s"key runtime filter kept all $all files")

    // seg = 'A': hive-path pruning drops every seg=B file
    val byPart = freshScan()
    byPart.filter(Array(new Predicate("=", Array(
      Expressions.column("seg"),
      v2lit(org.apache.spark.unsafe.types.UTF8String.fromString("A"),
        org.apache.spark.sql.types.StringType)))))
    val keptParts = byPart.planInputPartitions()
      .collect { case p: GraftInputPartition => p }
    assert(keptParts.nonEmpty &&
      keptParts.forall(_.partitionValues.get("seg").contains("A")))

    // an un-understood predicate is ignored, never over-prunes
    val noop = freshScan()
    noop.filter(Array(new Predicate("LIKE", Array(
      Expressions.column("name"),
      v2lit(org.apache.spark.unsafe.types.UTF8String.fromString("x%"),
        org.apache.spark.sql.types.StringType)))))
    assert(partsOf(noop) == all)
  }

  test("join against a filtered dim plans a runtime pruning subquery") {
    val dir = tmpDir("dsv2")
    val cfg = TableConfig("fact", Seq("k"), partitionKey = Some("seg"))
    CowTable(spark, dir + "/t", cfg).create(
      (1L to 1000L).map(i => (i, s"seg${i % 10}", i * 2.0))
        .toDF("k", "seg", "v"))
    // the dim must come from storage: a Seq-backed dim constant-folds to a
    // pre-filtered LocalRelation and leaves no selective predicate for DPP
    (0L to 9L).map(i => (s"seg$i", s"d$i")).toDF("seg", "label")
      .write.parquet(dir + "/dim")
    val dim = spark.read.parquet(dir + "/dim")
    val joined = spark.read.format("graft").load(dir + "/t")
      .join(dim.filter($"label" === "d3"), "seg")
    // Spark recognizes the scan's filterAttributes and attaches a dynamic
    // pruning filter on the partition column (DPP over manifest files)
    val planned = joined.queryExecution.executedPlan.toString
    assert(planned.toLowerCase.contains("dynamicpruning"), planned)
    assert(joined.count() == 100L)
  }

  test("grouped manifest pushdown with EVERY group dead (all rows " +
      "DV-deleted) falls back to the plain scan and returns empty") {
    val dir = tmpDir("dsv2")
    val t = CowTable(spark, dir + "/alldead", TableConfig("alldead",
      Seq("id"), partitionKey = Some("cat"), changeDataFeed = true,
      deletionVectors = true))
    t.create((1L to 30L).map(i => (i, s"c${i % 3}")).toDF("id", "cat"))
    t.delete((1L to 30L).toDF("id")) // every row of every group dead
    val g = spark.read.format("graft").load(dir + "/alldead")
      .groupBy($"cat").count()
    // pushing would report a group-column-only scan schema (the agg
    // fields are emitted per live group — zero here) and fail planning;
    // the fallback plain scan yields the correct empty result
    assert(g.collect().isEmpty)
    assert(spark.read.format("graft").load(dir + "/alldead")
      .select($"cat").distinct().collect().isEmpty)
  }

  test("nested types are rejected loudly (flat schemas only)") {
    val dir = tmpDir("dsv2")
    CowTable(spark, dir + "/t", TableConfig("t", Seq("id")))
      .create(Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "emb"))
    val e = intercept[UnsupportedOperationException] {
      spark.read.format("graft").load(dir + "/t").select("emb").collect()
    }
    assert(e.getMessage.contains("emb"), e.getMessage)
    // but projecting AWAY the nested column works
    assert(spark.read.format("graft").load(dir + "/t").select("id")
      .as[Long].collect().toSeq == Seq(1L))
  }
}
