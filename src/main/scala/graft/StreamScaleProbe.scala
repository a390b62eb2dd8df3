package graft

import graft.core.SessionTuning
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Empirical 100×-posture probe for the STREAMING pillar (companion of
  * [[ScaleProbe]] / [[TextScaleProbe]] / [[EmbedScaleProbe]]): extend the
  * events stream 1× / 4× / 16× IN TIME (each replica shifted by the full
  * span — a longer-running stream, not a hotter instant) and drain the
  * three stateful shapes as ordered micro-batches (one source file per
  * replica, `maxFilesPerTrigger=1` so the watermark advances between
  * batches exactly as it would in a long-running deployment).
  *
  * The 100 TB claim under test: with a watermark, PEAK STATE is bounded by
  * what's inside the watermark horizon (active windows / keys / join
  * buffer), NOT by how long the stream has been running — so
  * `max_state_rows` must stay ~flat while `out_rows` grows ~n. Total drain
  * time growing ~n is expected and honest (every event is processed once);
  * unbounded state is the failure mode that kills streaming jobs at scale.
  *
  *  - `win`   — watermarked tumbling-window aggregate (6h windows, 2h wm);
  *  - `dedup` — watermarked streaming dedup on (user, event_type, day);
  *  - `join`  — watermarked stream-stream interval join (purchase×click).
  *
  * Run manually (NOT part of the driver contract):
  * {{{
  * sbt "runMain graft.StreamScaleProbe /tmp/streamprobe"
  * }}}
  * Prints one JSON line per (operator, scale).
  */
object StreamScaleProbe {
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Drain with per-batch progress capture: (outRows, nBatches,
    * maxStateRows). */
  private def drainWithStats(
      spark: SparkSession, mkStream: SparkSession => DataFrame, sink: String,
      ckpt: String): (Long, Int, Long) = {
    val sess = spark.newSession()
    sess.conf.set("spark.sql.shuffle.partitions", 8)
    val q = mkStream(sess).writeStream
      .format("memory").queryName(sink)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val progresses = q.recentProgress.toSeq
    val maxState = progresses
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsTotal).foldLeft(0L)(math.max)
    (sess.table(sink).count(), progresses.count(_.numInputRows > 0), maxState)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/streamprobe")
    val spark = SessionTuning.builder(defaultCpus = 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF1", "/root/testdata/sf0.1")
    val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
    val Array(t0, t1) = ev0.agg(
      unix_micros(min(col("ts"))), unix_micros(max(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val spanUs = (t1 - t0) + 3600L * 1000000L // replica gap: span + 1h

    for ((name, n) <- Seq(("x1", 1), ("x4", 4), ("x16", 16))) {
      val root = s"$out/$name"
      graft.storage.CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val src = s"$root/src"
      // one file per replica, written in time order (FileStreamSource picks
      // files up in modification-time order → batches advance event time
      // monotonically, as a live stream would)
      for (i <- 0 until n) {
        ev0.select(
            (col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
            timestamp_micros(unix_micros(col("ts")) + lit(i * spanUs))
              .as("ts"),
            col("user_id"), col("event_type"))
          .coalesce(1).write.mode("append").parquet(src)
        Thread.sleep(5) // distinct mod-times keep the pickup order stable
      }
      val schema = spark.read.parquet(src).schema
      def srcStream(sess: SparkSession): DataFrame =
        sess.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(src)

      val ops: Seq[(String, SparkSession => DataFrame)] = Seq(
        "win" -> { sess: SparkSession =>
          srcStream(sess)
            .withWatermark("ts", "2 hours")
            .groupBy(window(col("ts"), "6 hours"), col("event_type"))
            .agg(count(lit(1)).as("n_events"))
            .select(col("window.start").as("window_start"),
              col("event_type"), col("n_events"))
        },
        "dedup" -> { sess: SparkSession =>
          srcStream(sess)
            .withColumn("day", date_trunc("DAY", col("ts")))
            .withWatermark("day", "48 hours")
            .select("user_id", "event_type", "day")
            .dropDuplicates("user_id", "event_type", "day")
        },
        "join" -> { sess: SparkSession =>
          val s = srcStream(sess)
          val p = s.filter(col("event_type") === "purchase")
            .select(col("event_id").as("purchase_id"), col("user_id"),
              col("ts").as("p_ts"))
            .withWatermark("p_ts", "2 hours")
          val c = s.filter(col("event_type") === "click")
            .select(col("event_id").as("click_id"),
              col("user_id").as("c_user_id"), col("ts").as("c_ts"))
            .withWatermark("c_ts", "2 hours")
          p.join(c,
            col("user_id") === col("c_user_id") &&
              col("c_ts") >= col("p_ts") - expr("INTERVAL 3600 SECONDS") &&
              col("c_ts") <= col("p_ts"))
        })

      for ((op, mk) <- ops) {
        val ((rows, batches, maxState), sec) = time {
          drainWithStats(spark, mk, s"probe_${op}_$name", s"$root/ckpt_$op")
        }
        println(s"""{"probe":"stream","op":"$op","scale":"$name",""" +
          s""""n_files":$n,"out_rows":$rows,"batches":$batches,""" +
          s""""max_state_rows":$maxState,"drain_sec":${f"$sec%.2f"}}""")
      }
    }
    spark.stop()
  }
}
