package graft.storage

import java.time.LocalDateTime

import graft.SparkSpec
import graft.core.Tables
import graft.operators.{RangeJoin, Sessionize}
import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}

/** TIMESTAMP_NTZ regression fence.
  *
  * The driver's testdata timestamp annotation has changed twice already
  * (TIMESTAMP(NANOS) → µs adjusted-UTC → µs NTZ, the pandas/pyarrow
  * default). Round 9 lost five event-time queries to hard errors and q98 to
  * a silent 0-row answer because Spark 4 infers the NTZ form as
  * TimestampNTZType, which watermarks/session_window/sequence reject and
  * the stats-skipping machinery compared in mismatched renderings. This
  * suite pins every layer that must tolerate NTZ input so the class of
  * failure cannot come back silently.
  */
class NtzFenceSpec extends SparkSpec {
  import spark.implicits._

  private def ldt(s: String): LocalDateTime =
    LocalDateTime.parse(s.replace(' ', 'T'))

  /** 400 rows over 4 days, ts typed TIMESTAMP_NTZ (LocalDateTime encoder). */
  private def ntzFrame: DataFrame =
    (0L until 400L).map { i =>
      (i, ldt(f"2024-01-${i / 100 + 1}%02d 00:00:00").plusMinutes(i % 100),
        i % 7, if (i % 3 == 0) "purchase" else "click", (i % 10).toDouble)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")

  test("Tables loader normalizes NTZ parquet to TIMESTAMP, keeping pushdown") {
    val dir = tmpDir("ntz")
    ntzFrame.write.parquet(s"$dir/events.parquet")
    // raw inference really is NTZ (the fence's premise)
    assert(spark.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType == TimestampNTZType)
    val loaded = Tables.table(spark, dir, "events")
    assert(loaded.schema("ts").dataType == TimestampType)
    // UTC session: wall-clock values survive the reinterpretation
    val got = loaded.filter($"event_id" === 101L)
      .select(date_format($"ts", "yyyy-MM-dd HH:mm:ss")).as[String].head()
    assert(got == "2024-01-02 00:01:00")
    // the read-schema override (not a cast) keeps the time-range filter at
    // the scan — the filter shape that matters at 100 TB
    val plan = loaded.filter($"ts" >= lit("2024-01-03 00:00:00").cast("timestamp"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"),
      plan)
  }

  test("NTZ statsColumn: skipping prunes files but never changes answers") {
    val dir = tmpDir("ntz")
    val t = CowTable(spark, dir + "/t",
      TableConfig("ev", Seq("event_id"), statsColumns = Seq("ts")))
    t.create(ntzFrame.repartitionByRange(4, $"ts"))
    // schema round-trips as NTZ — graft does not mangle user NTZ tables
    assert(spark.read.format("graft").load(dir + "/t")
      .schema("ts").dataType == TimestampNTZType)
    val m = t.manifest(t.currentVersion)
    assert(m.files.size == 4)
    // footer stats landed, in wall-clock-micros space (numeric, not lexical)
    m.files.foreach { e =>
      assert(e.extra.contains("ts"), e)
      assert(e.extra("ts").mn.exists(_.forall(c => c.isDigit || c == '-')), e)
    }
    val scan = spark.read.format("graft").load(dir + "/t")
      .filter($"ts" >= "2024-01-03 00:00:00" && $"ts" < "2024-01-04 00:00:00")
    assert(scan.count() == 100L) // exactness first: never a silent 0
    val plan = scan.queryExecution.executedPlan.toString
    // day-3's file only: the boundary neighbor's min sits exactly on the
    // strict '<' bound, which stays strict
    assert(plan.contains("files=1/4"), plan)
  }

  test("NTZ primary key: upsert prunes untouched files, CDF stays exact") {
    val dir = tmpDir("ntz")
    val mk = (d: Int) =>
      Seq.tabulate(100)(i =>
        (ldt(f"2024-01-$d%02d 00:00:00").plusMinutes(i), d * 1000L + i))
        .toDF("ts", "v")
    val t = CowTable(spark, dir + "/t",
      TableConfig("ev", Seq("ts"), changeDataFeed = true))
    t.create(mk(1).union(mk(2)).union(mk(3)).union(mk(4))
      .repartitionByRange(4, $"ts"))
    assert(t.manifest(t.currentVersion).keyNumeric) // micros space, not text
    val before = t.manifest(t.currentVersion).files.map(_.path).toSet
    val v0 = t.currentVersion
    val src = Seq((ldt("2024-01-03 00:30:00"), 999999L)).toDF("ts", "v")
    // exactly one file touched: NTZ keys prune numerically like TIMESTAMP
    assert(KeyPrune.touched(t.manifest(v0), t.root, src).get._1.size == 1)
    t.upsert(src)
    val after = t.manifest(t.currentVersion).files.map(_.path).toSet
    assert((before -- after).size == 1, (before, after))
    val out = t.read()
    assert(out.count() == 400L)
    assert(out.filter($"v" === 999999L).count() == 1L)
    // materialized CDF round-trips the NTZ key: exact I/U rows, NTZ schema
    val feed = t.readChangeFeed(v0, t.currentVersion)
    assert(feed.schema("ts").dataType == TimestampNTZType)
    val post = feed.filter($"_change_type" === "update_postimage")
    assert(post.count() == 1L)
    assert(post.select($"ts".cast("string")).as[String].head()
      == "2024-01-03 00:30:00")
  }

  test("z-order OPTIMIZE clusters on an NTZ column") {
    val dir = tmpDir("ntz")
    val t = CowTable(spark, dir + "/t", TableConfig("ev", Seq("event_id")))
    t.create(ntzFrame.repartition(4))
    val v = t.currentVersion
    t.optimize(clusterBy = Seq("ts"), targetPartitions = 4)
    assert(t.currentVersion == v + 1)
    val m = t.manifest(t.currentVersion)
    assert(m.files.nonEmpty && m.files.forall(_.zorderBy.contains("ts")), m)
    assert(t.read().count() == 400L)
    // clustering actually happened: per-file ts ranges are disjoint-ish —
    // each file's span is well under the full 4-day range random
    // placement would give (the curve orders by wall-clock micros)
    val spans = t.read().groupBy(input_file_name())
      .agg((unix_micros(max($"ts".cast(TimestampType))) -
        unix_micros(min($"ts".cast(TimestampType)))).as("span"))
      .select("span").as[Long].collect()
    val fullSpanUs = 4L * 24 * 3600 * 1000000
    assert(spans.forall(_ < fullSpanUs / 2), spans.toSeq)
  }

  test("Sessionize and RangeJoin accept NTZ event time directly") {
    val ntz = ntzFrame
    val ts = ntz.withColumn("ts", $"ts".cast(TimestampType))
    def canon(df: DataFrame): Seq[String] =
      df.withColumn("session_start", $"session_start".cast("string"))
        .withColumn("session_end", $"session_end".cast("string"))
        .collect().map(_.toString).sorted.toSeq
    val a = canon(Sessionize.sessions(
      ntz, "user_id", "ts", "event_id", 3600L, col("value")))
    val b = canon(Sessionize.sessions(
      ts, "user_id", "ts", "event_id", 3600L, col("value")))
    assert(a == b && a.nonEmpty)

    def pairs(df: DataFrame): Seq[(Long, Long)] = {
      val p = df.filter($"event_type" === "purchase")
        .select("event_id", "user_id", "ts")
      val c = df.filter($"event_type" === "click")
      RangeJoin.bucketed(p, c, Seq("user_id"), "ts", "ts", -3600L, 0L,
        Seq("event_id" -> "click_id"))
        .select($"event_id", $"click_id").as[(Long, Long)]
        .collect().sorted.toSeq
    }
    val pa = pairs(ntz)
    val pb = pairs(ts)
    assert(pa == pb && pa.nonEmpty)
  }

  test("watermarked stream over NTZ files runs via the TIMESTAMP read schema") {
    val dir = tmpDir("ntz")
    ntzFrame.write.parquet(s"$dir/src")
    // the loader's normalization rule, applied to a stream-source schema
    val inferred = spark.read.parquet(s"$dir/src").schema
    val schema = StructType(inferred.fields.map(f =>
      if (f.dataType == TimestampNTZType) f.copy(dataType = TimestampType)
      else f))
    val out = EventStreams.drainToMemory(
      spark,
      sess => EventStreams.windowedCounts(sess, s"$dir/src", schema,
        watermark = "1 hour", window = "1 day"),
      "ntz_fence_sink", s"$dir/ckpt", OutputMode.Append())
    // 4 distinct days, watermark finalizes the first 3: >0 rows, exact sums
    assert(out.count() > 0)
    assert(out.schema("window_start").dataType == TimestampType)
  }
}
