package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Write-time footer stats (`CowTable.footerStat`, read through local
  * parquet I/O) against the same values aggregated by Spark over each
  * written file: rows, null counts, and key and stats-column min/max in
  * stat-string space, for long, string, timestamp and NaN-bearing double
  * columns. */
class FooterStatsSpec extends SparkSpec {
  import spark.implicits._

  /** Stat-string form of a footer numeric, as `footerStat` renders it. */
  private def num(v: Any): String = v match {
    case d: Double => BigDecimal(java.lang.Double.toString(d)).toString
    case l: Long => BigDecimal(l).toString
  }

  /** Per written file: (rows, min, max, nulls) of `c` in stat space. */
  private def perFile(t: CowTable, c: String, dt: String)
      : Map[String, (Long, Option[String], Option[String], Long)] = {
    val m = t.manifest(t.currentVersion)
    val df = spark.read.parquet(
      m.files.map(e => t.root.resolve(e.path).toString): _*)
    val v = dt match {
      case "timestamp" => unix_micros(col(c))
      case "double" => when(!isnan(col(c)), col(c)) // NaN carries no stat
      case _ => col(c)
    }
    df.groupBy(input_file_name().as("f"))
      .agg(count(lit(1)), min(v), max(v), sum(col(c).isNull.cast("long")))
      .collect().map { r =>
        val rel = t.root.relativize(java.nio.file.Paths.get(
          new java.net.URI(r.getString(0)).getPath)).toString
        def s(i: Int): Option[String] = Option(r.get(i)).map {
          case x: String => x
          case x => num(x)
        }
        rel -> ((r.getLong(1), s(2), s(3), r.getLong(4)))
      }.toMap
  }

  private def check(key: String, keyDt: String, other: String,
      otherDt: String, df: DataFrame): Unit = {
    val t = CowTable(spark, tmpDir("fstat") + "/t",
      TableConfig("t", Seq(key), statsColumns = Seq(other)))
    t.create(df.repartition(4))
    val m = t.manifest(1)
    assert(m.files.size == 4)
    val keyWant = perFile(t, key, keyDt)
    val otherWant = perFile(t, other, otherDt)
    val doubleCols = df.columns.collect {
      case c if df.schema(c).dataType.typeName == "double" => c
    }
    m.files.foreach { e =>
      val (rows, kMin, kMax, kNulls) = keyWant(e.path)
      val (_, oMin, oMax, oNulls) = otherWant(e.path)
      assert(e.rows == rows, e)
      assert(e.nulls.get(key).contains(kNulls), e)
      assert(e.nulls.get(other).contains(oNulls), e)
      val file = spark.read.parquet(t.root.resolve(e.path).toString)
      // a double column whose file holds a NaN has no footer min/max
      def hasNaN(c: String) = doubleCols.contains(c) &&
        file.filter(isnan(col(c))).count() > 0
      if (hasNaN(key)) assert(e.minKey.isEmpty && e.maxKey.isEmpty, e)
      else assert((e.minKey, e.maxKey) == ((kMin, kMax)), e)
      if (hasNaN(other)) assert(!e.extra.contains(other), e)
      else assert(e.extra.get(other).map(r => (r.mn, r.mx)) ==
        Some((oMin, oMax)), e)
    }
  }

  test("long key, NaN-bearing double stats column") {
    check("id", "long", "v", "double", (1L to 400L).map { i =>
      (i, if (i % 97 == 0) Double.NaN else i * 0.25 - 40.0)
    }.toDF("id", "v"))
  }

  test("string key, timestamp stats column with nulls") {
    check("name", "string", "ts", "timestamp", (1 to 400).map { i =>
      (f"k$i%04d-é", if (i % 50 == 0) null
        else new java.sql.Timestamp(1700000000000L + i * 61001L))
    }.toDF("name", "ts"))
  }

  test("timestamp key, string stats column with nulls") {
    check("ts", "timestamp", "name", "string", (1 to 400).map { i =>
      (new java.sql.Timestamp(1600000000000L + i * 3600000L),
        if (i % 40 == 0) null else s"z${400 - i}")
    }.toDF("ts", "name"))
  }

  test("NaN-bearing double key, long stats column") {
    check("v", "double", "id", "long", (1 to 400).map { i =>
      (if (i % 150 == 0) Double.NaN else i * 1.5e7 + 0.125, i.toLong)
    }.toDF("v", "id"))
  }
}
