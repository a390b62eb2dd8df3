package graft.storage

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The shared key-set → files pruner ([[KeyPrune.touched]]): non-finite
  * keys on a DOUBLE-keyed table, plus differential properties against a
  * brute-force linear reference over random manifests. Generators run
  * with fixed seeds (the scalatest-scalacheck bridge isn't on the offline
  * classpath); each case costs Spark jobs, so case counts stay small. */
class KeyPruneSpec extends SparkSpec {
  import spark.implicits._

  test("NaN and ±Infinity keys merge exactly on a DOUBLE-keyed table") {
    val dir = tmpDir("kp") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("k")))
    val base = (1 to 400).map(i => (i.toDouble, s"n$i")).toDF("k", "v")
    t.create(base.repartitionByRange(4, col("k")))
    assert(t.manifest(1).files.size == 4)
    // plain Spark replays every step; NaN keys equal-match in Spark joins
    var expected: DataFrame = base
    def upsertRef(src: DataFrame): Unit =
      expected = expected.join(src, Seq("k"), "left_anti").unionByName(src)
    // doubles render through their string form: NaN != NaN as a Double
    def rows(df: DataFrame): Set[(String, String)] =
      df.selectExpr("CAST(k AS STRING)", "v").as[(String, String)]
        .collect().toSet
    def check(step: String): Unit = {
      val (got, want) = (rows(t.read()), rows(expected))
      if (got != want)
        fail(s"after $step: extra ${got -- want}, missing ${want -- got}")
    }
    val (nan, inf) = (Double.NaN, Double.PositiveInfinity)

    val up1 = Seq((nan, "nan1"), (inf, "inf1"), (5.0, "u5")).toDF("k", "v")
    t.upsert(up1); upsertRef(up1); check("API upsert of NaN and +Inf")
    // the table now holds non-finite keys, so file bounds can be NaN too
    val up2 = Seq((nan, "nan2"), (Double.NegativeInfinity, "ninf"))
      .toDF("k", "v")
    t.upsert(up2); upsertRef(up2); check("API upsert over NaN bounds")
    val del = Seq(inf, nan).toDF("k")
    t.delete(del)
    expected = expected.join(del, Seq("k"), "left_anti")
    check("API delete of +Inf and NaN")

    // SQL MERGE in a GraftExtensions session: its injected prune rule runs
    // before Spark normalizes floating-point join keys, so it is the one
    // that sees `t.k = s.k` on a DOUBLE key and hands the keys to the
    // pruner (the rule the plain session installs later declines there)
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val ext = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    ext.conf.set("graft.mergeSourcePruneMinFiles", "0")
    ext.sql("DROP TABLE IF EXISTS kp_nan")
    try {
      ext.sql(s"CREATE TABLE kp_nan USING graft LOCATION '$dir'")
      def sqlMerge(src: Seq[(Double, String)], step: String): Unit = {
        ext.createDataFrame(src).toDF("k", "v")
          .createOrReplaceTempView("kp_nan_src")
        ext.sql(
          """MERGE INTO kp_nan t USING kp_nan_src s ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *
            |""".stripMargin)
        upsertRef(src.toDF("k", "v")); check(step)
      }
      sqlMerge(Seq((nan, "nan3"), (7.0, "u7")), "SQL MERGE of a NaN key")
      // the table holds a NaN row now: a source of NaN keys only must
      // match it (update, not a duplicate insert)
      sqlMerge(Seq((nan, "nan4")), "SQL MERGE of only NaN keys onto a NaN row")
    } finally {
      ext.sql("DROP TABLE IF EXISTS kp_nan")
      ext.conf.unset("graft.mergeSourcePruneMinFiles")
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
    }
  }

  // ---- differential properties -------------------------------------------

  /** A key column type: reference stat strings (the manifest's value
    * space) and the SQL that turns one into the typed column. */
  private final case class Kind(
      name: String, numeric: Boolean, value: Gen[String],
      typed: Column => Column)

  private val micros: Gen[String] =
    Gen.choose(-6L, 6L).map(h => (h * 3600000000L + 123456L).toString)

  // U+FFFD sorts above every surrogate in UTF-16 but below supplementary-
  // plane characters in UTF-8 bytes: the two orders disagree on it
  private val glyphs = Seq("a", "b", "z", "\u00e9", "\u4e2d", "\uFFFD",
    "\uD83D\uDE00", "\uD834\uDD1E")

  private val kinds = Seq(
    Kind("long", numeric = true,
      Gen.choose(-30L, 30L).map(_.toString), _.cast("bigint")),
    Kind("string", numeric = false,
      Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.oneOf(glyphs)))
        .map(_.mkString), c => c),
    Kind("decimal", numeric = true,
      Gen.choose(-3000L, 3000L).map(u => BigDecimal(u, 2).toString),
      _.cast("decimal(12,2)")),
    Kind("timestamp", numeric = true, micros,
      c => timestamp_micros(c.cast("bigint"))),
    Kind("ntz", numeric = true, micros,
      c => timestamp_micros(c.cast("bigint")).cast("timestamp_ntz")),
    Kind("double", numeric = true,
      Gen.frequency(
        8 -> Gen.choose(-40, 40).map(q => (q / 4.0).toString),
        1 -> Gen.oneOf("NaN", "Infinity", "-Infinity")),
      _.cast("double")))

  /** Reference order: BigDecimal, or unsigned UTF-8 bytes; None when a
    * numeric value does not parse (it may sit anywhere). */
  private def refCompare(a: String, b: String, numeric: Boolean)
      : Option[Int] =
    if (numeric)
      scala.util.Try(BigDecimal(a).compare(BigDecimal(b))).toOption
    else {
      val (x, y) = (a.getBytes(UTF_8), b.getBytes(UTF_8))
      val diff = x.iterator.zip(y.iterator)
        .map { case (p, q) => (p & 0xff) - (q & 0xff) }.find(_ != 0)
      Some(diff.getOrElse(x.length - y.length))
    }

  /** May a file with these bounds hold `key` (None = NULL: min/max stats
    * are null-blind, so a NULL may sit in any file)? */
  private def mayHold(bounds: (Option[String], Option[String]),
      key: Option[String], numeric: Boolean): Boolean =
    (bounds, key) match {
      case ((Some(mn), Some(mx)), Some(k)) =>
        (refCompare(mn, k, numeric), refCompare(k, mx, numeric)) match {
          case (Some(a), Some(b)) => a <= 0 && b <= 0
          case _ => true
        }
      case _ => true
    }

  private def boundsGen(k: Kind): Gen[(Option[String], Option[String])] =
    Gen.frequency(
      6 -> Gen.zip(k.value, k.value).map { case (a, b) =>
        if (refCompare(a, b, k.numeric).exists(_ > 0)) (Some(b), Some(a))
        else (Some(a), Some(b))
      },
      1 -> Gen.const((None, None)), // stat-less entry
      1 -> k.value.map(v => (Some(v), Some("NaN"))))

  private final case class Case(
      k1: Kind, k2: Option[Kind], m: CommitManifest,
      batch: Seq[(Option[String], Option[String])])

  private val caseGen: Gen[Case] = for {
    k1 <- Gen.oneOf(kinds)
    k2 <- Gen.option(Gen.oneOf(kinds))
    nFiles <- Gen.choose(1, 10)
    files <- Gen.listOfN(nFiles, Gen.zip(boundsGen(k1),
      k2.fold(Gen.const[(Option[String], Option[String])]((None, None)))(
        boundsGen)))
    nKeys <- Gen.choose(1, 12)
    batch <- Gen.listOfN(nKeys, Gen.zip(
      Gen.frequency(6 -> k1.value.map(Option(_)), 1 -> Gen.const(None)),
      k2.fold(Gen.const(Option.empty[String]))(k =>
        Gen.frequency(6 -> k.value.map(Option(_)), 1 -> Gen.const(None)))))
  } yield {
    val entries = files.zipWithIndex.map { case (((a, b), (c, d)), i) =>
      FileEntry(s"f$i.parquet", 1L, a, b, c, d)
    }
    Case(k1, k2, CommitManifest(1, 0, "", "k1" +: k2.map(_ => "k2").toSeq,
      None, k1.numeric, 0L, entries,
      key2Numeric = k2.exists(_.numeric)), batch)
  }

  private def cases(n: Int, salt: Long): Seq[Case] =
    (1 to n).flatMap(i =>
      caseGen.apply(Gen.Parameters.default, Seed(salt + i)))

  private def frame(c: Case): DataFrame = {
    val raw = c.batch.toDF("r1", "r2")
    raw.select(c.k1.typed(col("r1")).as("k1") +:
      c.k2.map(_.typed(col("r2")).as("k2")).toSeq: _*)
  }

  private val noRoot = Paths.get(tmpDir("kp-noroot"))

  test("property: untouched files never hold a batch key") {
    val pruned = cases(40, 1000L).map { c =>
      val (touched, untouched) =
        KeyPrune.touched(c.m, noRoot, frame(c)).getOrElse(fail("empty batch"))
      assert((touched ++ untouched).map(_.path).sorted ==
        c.m.files.map(_.path).sorted)
      for (u <- untouched; (a, b) <- c.batch)
        assert(!(mayHold(u.bounds(0), a, c.k1.numeric) &&
          c.k2.forall(k => mayHold(u.bounds(1), b, k.numeric))),
          s"${c.k1.name}/${c.k2.map(_.name)}: $u holds key ($a, $b)")
      untouched.size
    }
    assert(pruned.count(_ > 0) >= 10, s"too few cases prune: $pruned")
  }

  test("property: under-cap and over-cap paths touch the same files") {
    val pruned = cases(20, 5000L).map { c =>
      def touchedBy(keys: DataFrame, maxKeys: Int): Set[String] =
        KeyPrune.touched(c.m, noRoot, keys, maxKeys)
          .getOrElse(fail("empty batch"))._1.map(_.path).toSet
      // the first column alone, then (composite keys) both columns
      val frames = frame(c).select("k1") +:
        c.k2.map(_ => frame(c)).toSeq
      val under = frames.map { keys =>
        val u = touchedBy(keys, KeyPrune.MaxKeys)
        assert(u == touchedBy(keys, 0), s"${c.k1.name}/${c.k2.map(_.name)}" +
          s" ${keys.columns.mkString(",")}: files ${c.m.files} keys ${c.batch}")
        u
      }
      c.m.files.size - under.head.size
    }
    assert(pruned.count(_ > 0) >= 5, s"too few cases prune: $pruned")
  }
}
