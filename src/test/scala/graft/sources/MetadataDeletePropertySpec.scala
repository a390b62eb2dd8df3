package graft.sources

import graft.SparkSpec
import graft.storage.{CowTable, TableConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

/** DIFFERENTIAL PROPERTY TEST for the per-file evaluator
  * ([[FilePredicate]]) through its two consumers:
  *
  *  - METADATA-ONLY DELETE ([[MetadataDelete.coveredFiles]]): whenever it
  *    ACCEPTS (returns Some(covered)), the covered set must be row-exact —
  *    every row of every covered file satisfies the predicate and no row
  *    of any surviving file does. A wrong `All` silently keeps deleted
  *    rows; a wrong `No` silently deletes live rows. A None (decline) is
  *    always safe by construction (the statement falls back to the
  *    row-level rewrite) and is not asserted beyond occurring where
  *    expected.
  *  - the DSv2 SCAN: every file holding a brute-force-matching row must
  *    be planned (a wrong `No` drops rows), and the filtered read must
  *    return exactly the rows plain Spark's filter does.
  *
  * Brute force evaluates the same SQL predicate over `_file`-tagged rows
  * of a materialized (unpruned) read. A seeded sweep (deterministic, no
  * flaky generators) crosses the layouts — day(ts) and hour(ts)
  * transforms, identity partition with nulls, key-clustered flat,
  * truncate over LONG and STRING sources, bucket, a day(ts)→hour(ts)
  * evolved table, and a deletion-vector table whose DOUBLE statsColumns
  * column holds NaN and null — with a predicate battery of aligned and
  * unaligned cuts, ranges, strict bounds sitting exactly on file min/max
  * stats, IN/equality/null tests, disjunctions and conjunctions.
  */
class MetadataDeletePropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  private val nVals = Seq(2L, 50L, 150L, 9L, -7L, 1000L, 12L, -150L, 0L, 99L)
  // "" lands in the hive null directory under truncate; '～' (U+FF5E)
  // sorts ABOVE the surrogate-pair '😀' in UTF-16 but BELOW it in UTF-8
  private val sVals = Seq("", "a", "ab", "abc", "b", "ba", "zz", "é",
    "\uD83D\uDE00x", "\uFF5E", null)

  /** `asciiDirs`: keep `s` ASCII, for layouts that put it in directory
    * names (non-ASCII paths depend on the JVM's filesystem encoding). */
  private def rows(n: Int, asciiDirs: Boolean = false): DataFrame = {
    val ss =
      if (asciiDirs) sVals.filter(x => x == null || x.forall(_ < 0x80))
      else sVals
    (1 to n).map { i =>
    val user = if (i % 13 == 0) null else s"u${i % 7}"
    val nv: java.lang.Long =
      if (i % 17 == 0) null else java.lang.Long.valueOf(nVals(i % nVals.size))
    val dv: java.lang.Double =
      if (i % 11 == 0) null
      else if (i % 9 == 0) java.lang.Double.NaN
      else java.lang.Double.valueOf(i * 0.5)
    (i.toLong, user,
      java.sql.Timestamp.valueOf(
        f"2024-02-${1 + (i % 6)}%02d ${i % 24}%02d:${(i * 7) % 60}%02d:00"),
      i * 1.5, nv, ss(i % ss.size), dv)
    }.toDF("id", "user", "ts", "v", "n", "s", "d")
  }

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s)

  private def sqlStr(s: String) = "'" + s.replace("'", "''") + "'"

  /** (sql form for the brute-force row filter, Filter form for the
    * evaluator) — semantically identical by construction. */
  private def battery: Seq[(String, Filter)] = {
    val cuts = Seq(
      "2024-02-03 00:00:00", "2024-02-03 12:00:00", "2024-02-03 12:30:00",
      "2024-02-01 00:00:00", "2024-02-07 00:00:00", "2024-02-04 17:00:00")
    val tsPreds = cuts.flatMap { c =>
      Seq(
        (s"ts < TIMESTAMP '$c'", LessThan("ts", ts(c)): Filter),
        (s"ts >= TIMESTAMP '$c'", GreaterThanOrEqual("ts", ts(c)): Filter))
    }
    val idPreds = Seq(25L, 100L, 347L, 1000L).flatMap { k =>
      Seq(
        (s"id <= $k", LessThanOrEqual("id", k): Filter),
        (s"id > $k", GreaterThan("id", k): Filter))
    } :+ ("id IN (3, 250)", In("id", Array[Any](3L, 250L)): Filter)
    val userPreds = Seq(
      ("user = 'u1'", EqualTo("user", "u1"): Filter),
      ("user IN ('u2', 'u5')", In("user", Array("u2", "u5")): Filter),
      ("user IS NULL", IsNull("user"): Filter),
      ("user IS NOT NULL", IsNotNull("user"): Filter))
    val nPreds = Seq(
      ("n <= 100", LessThanOrEqual("n", 100L): Filter),
      ("n > 5", GreaterThan("n", 5L): Filter),
      ("n < 0", LessThan("n", 0L): Filter),
      ("n >= 150", GreaterThanOrEqual("n", 150L): Filter),
      ("n = 150", EqualTo("n", 150L): Filter),
      ("n IN (9, 1000)", In("n", Array[Any](9L, 1000L)): Filter),
      ("n IS NULL", IsNull("n"): Filter))
    val sPreds = Seq(
      ("s < 'b'", LessThan("s", "b"): Filter),
      ("s >= 'ab'", GreaterThanOrEqual("s", "ab"): Filter),
      ("s > 'a'", GreaterThan("s", "a"): Filter),
      ("s <= ''", LessThanOrEqual("s", ""): Filter),
      ("s = ''", EqualTo("s", ""): Filter),
      ("s = 'ab'", EqualTo("s", "ab"): Filter),
      ("s IN ('', 'zz')", In("s", Array("", "zz")): Filter),
      (s"s > ${sqlStr("\uFF5E")}", GreaterThan("s", "\uFF5E"): Filter),
      (s"s < ${sqlStr("\uD83D\uDE00")}",
        LessThan("s", "\uD83D\uDE00"): Filter),
      ("s IS NOT NULL", IsNotNull("s"): Filter))
    val dPreds = Seq(
      ("d > 100.0", GreaterThan("d", 100.0): Filter),
      ("d <= 10.0", LessThanOrEqual("d", 10.0): Filter),
      // NaN sorts above every double in Spark: only NaN rows match
      ("d > 1000000.0", GreaterThan("d", 1000000.0): Filter),
      ("d IS NULL", IsNull("d"): Filter))
    val orPreds = Seq(
      ("id <= 25 OR id > 347", Or(LessThanOrEqual("id", 25L),
        GreaterThan("id", 347L)): Filter),
      ("user = 'u1' OR user IS NULL", Or(EqualTo("user", "u1"),
        IsNull("user")): Filter))
    val base = tsPreds ++ idPreds ++ userPreds ++ nPreds ++ sPreds ++
      dPreds ++ orPreds
    // seeded conjunctions of two distinct base predicates
    val conj = (1 to 12).map { _ =>
      val a = base(rnd.nextInt(base.size))
      val b = base(rnd.nextInt(base.size))
      (s"(${a._1}) AND (${b._1})", And(a._2, b._2): Filter)
    }
    base ++ conj
  }

  /** Strict and inclusive bounds sitting EXACTLY on some files' key and
    * `d` [min, max] stats — strict ones must skip the file they touch. */
  private def edgeBattery(m: graft.storage.CommitManifest)
      : Seq[(String, Filter)] = {
    val keyEdges = m.files.take(3).flatMap(e => e.minKey.toSeq.flatMap(mn =>
      Seq((s"id < $mn", LessThan("id", mn.toLong): Filter),
        (s"id <= $mn", LessThanOrEqual("id", mn.toLong): Filter))) ++
      e.maxKey.toSeq.flatMap(mx =>
        Seq((s"id > $mx", GreaterThan("id", mx.toLong): Filter),
          (s"id >= $mx", GreaterThanOrEqual("id", mx.toLong): Filter))))
    val dEdges = m.files.flatMap(_.extra.get(m.physicalName("d"))).take(3)
      .flatMap(r => r.mn.toSeq.flatMap(mn =>
        Seq((s"d < $mn", LessThan("d", mn.toDouble): Filter),
          (s"d <= $mn", LessThanOrEqual("d", mn.toDouble): Filter))) ++
        r.mx.toSeq.flatMap(mx =>
          Seq((s"d > $mx", GreaterThan("d", mx.toDouble): Filter),
            (s"d >= $mx", GreaterThanOrEqual("d", mx.toDouble): Filter))))
    (keyEdges ++ dEdges).distinct
  }

  /** The property, for every predicate of the battery:
    *  - scan: every file holding a brute-force-matching row is planned,
    *    and the filtered read returns exactly plain Spark's rows;
    *  - delete: accept ⇒ exact file partition under brute force.
    * Returns (accepted, declined) metadata-delete counts. */
  private def check(dir: String, t: CowTable): (Int, Int) = {
    val m = t.manifest(t.currentVersion)
    val schema = CowTable.structFromJson(m.schemaJson)
    val preds = battery ++ edgeBattery(m)
    val df = spark.read.format("graft").load(dir)
      .select(col("*"), col("_file")).localCheckpoint()
    // brute force, one job: (file, id, does predicate i match?)
    val truth = df.select(col("_file") +: col("id") +:
      preds.indices.map(i =>
        coalesce(expr(preds(i)._1), lit(false)).as(s"p$i")): _*)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), preds.indices.map(i => r.getBoolean(i + 2))))
    val totals = truth.groupBy(_._1).map { case (f, rs) => f -> rs.length.toLong }
    var accepted, declined = 0
    preds.zipWithIndex.foreach { case ((sql, f), i) =>
      val matching = truth.filter(_._3(i))
      val matches = matching.groupBy(_._1)
        .map { case (file, rs) => file -> rs.length.toLong }
      // the DSv2 scan: pushed filters prune files, Spark re-checks rows
      val q = spark.read.format("graft").load(dir).filter(expr(sql))
      val planned = q.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => r.scan
      }.flatMap {
        case g: GraftScan => g.planInputPartitions().toSeq.collect {
          case p: GraftInputPartition => p.filePath
        }
        case other => fail(s"'$sql': unexpected scan $other")
      }.toSet
      matches.keys.foreach(file => assert(planned(file),
        s"'$sql': file $file holds ${matches(file)} matching rows but the " +
          "scan skipped it (a wrong No)"))
      val scanned = q.select("id").as[Long].collect().toSet
      assert(scanned == matching.map(_._2).toSet,
        s"'$sql': scan rows differ from plain Spark")
      MetadataDelete.coveredFiles(m, schema, IndexedSeq(f)) match {
        case Some(covered) =>
          accepted += 1
          val cov = covered.map(_.path).toSet
          totals.foreach { case (abs, total) =>
            val isCovered = cov.exists(rel => abs.endsWith("/" + rel))
            val matched = matches.getOrElse(abs, 0L)
            if (isCovered)
              assert(matched == total,
                s"'$sql': covered file $abs has $matched/$total " +
                  "matching rows — a NOT-ALL file accepted (silent keep)")
            else
              assert(matched == 0L,
                s"'$sql': surviving file $abs has $matched matching " +
                  "rows — a SOME file survived (silent delete)")
          }
        case None => declined += 1
      }
    }
    (accepted, declined)
  }

  test("day(ts) layout: every accepted predicate partitions files exactly") {
    val dir = tmpDir("mdp") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      partitionSpec = Some("day(ts)")))
    t.create(rows(400))
    val (acc, dec) = check(dir, t)
    // aligned day cuts and partition-interval ranges must convert
    assert(acc >= 4, s"expected aligned cuts to accept, got $acc/$dec")
  }

  test("hour(ts) layout: every accepted predicate partitions files exactly") {
    val dir = tmpDir("mdp") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      partitionSpec = Some("hour(ts)")))
    t.create(rows(300))
    val (acc, _) = check(dir, t)
    assert(acc >= 6, "hour-aligned cuts must accept")
  }

  test("identity partition with nulls: every accepted predicate " +
      "partitions files exactly") {
    val dir = tmpDir("mdp") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      partitionKey = Some("user")))
    t.create(rows(400))
    val (acc, _) = check(dir, t)
    // user equality / IN / IS NULL decide from partition paths alone
    assert(acc >= 4, "partition-path predicates must accept")
  }

  test("evolved day(ts) -> hour(ts) table: era-mixed files partition " +
      "exactly; old-era-aligned cuts accept, straddling cuts decline") {
    val dir = tmpDir("mdp") + "/t"
    val t0 = CowTable(spark, dir, TableConfig("t", Seq("id"),
      partitionSpec = Some("day(ts)")))
    t0.create(rows(200)) // old era: ts_day=... paths
    val t = t0.alterPartitionSpec(Some("hour(ts)"))
    t.upsert(rows(500).filter(col("id") > 200)) // new era: ts_hour=... only
    val m = t.manifest(t.currentVersion)
    assert(m.priorSpecs == Seq("day(ts)"))
    assert(m.files.exists(_.path.contains("ts_day=")) &&
      m.files.exists(_.path.contains("ts_hour=")),
      "fixture must be era-mixed")
    // the full battery property holds over the mixed-era manifest
    val (acc, _) = check(dir, t)
    assert(acc >= 4, "aligned cuts must still accept on the evolved table")
    val schema = CowTable.structFromJson(m.schemaJson)
    // a DAY-aligned retention cut is hour-aligned too: BOTH eras decide
    // their own files — the whole statement stays metadata-only
    val dayCut = MetadataDelete.coveredFiles(m, schema,
      IndexedSeq(LessThan("ts", ts("2024-02-03 00:00:00"))))
    assert(dayCut.isDefined,
      "day-aligned cut must stay metadata-only across the evolution")
    assert(dayCut.get.exists(_.path.contains("ts_day=")) &&
      dayCut.get.exists(_.path.contains("ts_hour=")),
      s"cut must cover files of BOTH eras, got ${dayCut.get.map(_.path)}")
    // an HOUR-aligned (not day-aligned) cut straddles old-era day files:
    // those can be neither All nor No — the statement must DECLINE
    val hourCut = MetadataDelete.coveredFiles(m, schema,
      IndexedSeq(LessThan("ts", ts("2024-02-03 12:00:00"))))
    assert(hourCut.isEmpty,
      "an hour cut straddling a day-era file must decline to rewrite")
  }

  test("key-clustered flat layout: every accepted predicate partitions " +
      "files exactly") {
    val dir = tmpDir("mdp") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      clusterByKey = true))
    t.create(rows(400).repartitionByRange(4, col("id")))
    val m1 = t.manifest(1)
    val (acc, _) = check(dir, t)
    // file-boundary id cuts decide from footer min/max stats
    val boundary = m1.files.flatMap(_.maxKey).map(_.toLong).min
    val covered = MetadataDelete.coveredFiles(m1,
      CowTable.structFromJson(m1.schemaJson),
      IndexedSeq(LessThanOrEqual("id", boundary)))
    assert(covered.exists(_.nonEmpty), "a boundary cut must accept")
    assert(acc >= 1)
  }

  test("truncate(2, n) over a LONG source: ranges never prune by the " +
      "path's lexical order") {
    val dir = tmpDir("mdp") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      partitionSpec = Some("truncate(2,n)")))
    t.create(rows(300))
    val (acc, _) = check(dir, t)
    // n = v / n IN (...) refute other directories; IS NULL is the null dir
    assert(acc >= 1, "null-directory checks must accept")
  }

  test("truncate(2, s) over a STRING source: UTF-8 order, \"\" rows in " +
      "the null directory") {
    val dir = tmpDir("mdp") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      partitionSpec = Some("truncate(2,s)")))
    t.create(rows(300, asciiDirs = true))
    val m = t.manifest(t.currentVersion)
    assert(m.files.exists(_.path.contains(CowTable.NullPartitionName)),
      m.files.map(_.path))
    val (acc, _) = check(dir, t)
    assert(acc >= 1, "directory-aligned string ranges must accept")
  }

  test("truncate over STRING: path values compare in UTF-8 order, not " +
      "UTF-16") {
    // '～' (U+FF5E) sorts ABOVE '😀' (U+1F600, a surrogate pair) in UTF-16
    // but BELOW it in UTF-8 — Spark's string order
    import graft.storage.{CommitManifest, FileEntry}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("s_truncate", StringType)))
    val m = CommitManifest(version = 1, parent = 0, schemaJson = schema.json,
      primaryKey = Seq("id"), partitionKey = Some("s_truncate"),
      keyNumeric = true, rowCount = 2L, files = Nil,
      partitionSpec = Some("truncate(1,s)"))
    def file(dir: String) = FileEntry(s"v1/s_truncate=$dir/f.parquet", 1L,
      None, None)
    val (emoji, tilde) = (file("\uD83D\uDE00"), file("\uFF5E"))
    val gt = FilePredicate(m, schema, Seq(GreaterThan("s", "\uFF5E")))
    assert(gt.eval(emoji) == FilePredicate.All)
    assert(gt.eval(tilde) == FilePredicate.Unknown)
    val lt = FilePredicate(m, schema, Seq(LessThan("s", "\uD83D\uDE00")))
    assert(lt.eval(tilde) == FilePredicate.All)
    assert(lt.eval(emoji) == FilePredicate.Unknown)
    assert(FilePredicate(m, schema, Seq(LessThan("s", "\uFF5E")))
      .eval(emoji) == FilePredicate.No)
  }

  test("bucket(4, user) layout: every accepted predicate partitions " +
      "files exactly") {
    val dir = tmpDir("mdp") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      partitionSpec = Some("bucket(4,user)")))
    t.create(rows(300))
    check(dir, t)
  }

  test("deletion-vector table, DOUBLE statsColumns with NaN and null: " +
      "every accepted predicate partitions files exactly") {
    val dir = tmpDir("mdp") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      clusterByKey = true, statsColumns = Seq("d"), changeDataFeed = true,
      deletionVectors = true))
    t.create(rows(400).repartitionByRange(4, col("id")))
    t.delete(Seq(5L, 90L, 180L, 270L, 399L).toDF("id"))
    val m = t.manifest(t.currentVersion)
    assert(m.files.exists(_.dvPath.isDefined), "fixture must carry DVs")
    val (acc, _) = check(dir, t)
    assert(acc >= 1)
  }
}
