package graft

import graft.core.SessionTuning
import graft.operators.CdcDedup
import graft.pipeline.CdcPipeline
import graft.storage.{CowTable, TableConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1-scale probe over the REAL table shapes (VERDICT r7/r9/r10 carry:
  * "O(changed-files) holds on the real table shapes, not just ScaleProbe's
  * synthetic lineitem"): replicate the driver's sf0.1 `events` / `customer`
  * parquet 10× (≈ sf1: 1M events, 150k customers) with disjoint key ranges
  * and run the exact operator shapes of the storage-heavy queries at both
  * scales:
  *
  *  - q27/q75/q80/q99 shape — CDC lifecycle on the `events` state table
  *    (changeDataFeed on, precombine key, latest-per-key initial load;
  *    [[CdcPipeline.applyBatch]] upsert+delete of a SMALL key-subset
  *    batch; tail change-feed read);
  *  - q85/q89 shape — small SQL MERGE through the DSv2 row-level path;
  *  - q51 shape — delete + whole-table compact on `customer` (the one
  *    intentionally O(table) op, reported as the contrast).
  *
  * The claim under test: batch-sized mutations and tail feed reads stay
  * FLAT from sf0.1 to sf1 on these key distributions (1.5k hot users,
  * 66 rows/user), while only create and full-compact grow with the table.
  *
  * Run manually (NOT part of the driver contract):
  * {{{
  * sbt "runMain graft.Sf1Probe /tmp/sf1probe"
  * }}}
  * Prints one JSON line per scale.
  */
object Sf1Probe {
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val cutoff = "2024-01-15 00:00:00"

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sf1probe")
    val spark = SessionTuning.builder(defaultCpus = 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF1", "/root/testdata/sf0.1")
    def events0 = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_id", "ts", "user_id", "event_type", "value")
    def customer0 = spark.read.parquet(s"$sfDir/customer.parquet")

    // n× replication with DISJOINT key ranges — same per-key row counts
    // and timestamp distribution, n× the keys/rows/files
    def repEvents(n: Int): DataFrame = (0 until n).map { i =>
      events0.select(
        ($"event_id" + lit(i.toLong * 1000000000L)).as("event_id"),
        $"ts",
        ($"user_id" + lit(i.toLong * 1000000L)).as("user_id"),
        $"event_type", $"value")
    }.reduce(_ unionByName _)
    def repCustomer(n: Int): DataFrame = (0 until n).map { i =>
      customer0.withColumn("c_custkey",
        $"c_custkey" + lit(i.toLong * 10000000L))
    }.reduce(_ unionByName _)

    for ((name, n, evFiles, custFiles) <- Seq(
        ("sf0.1", 1, 16, 4), ("sf1", 10, 160, 40))) {
      val root = s"$out/$name"
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val ev = repEvents(n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      ev.count()

      // ---- events CDC lifecycle (q27/q75/q80/q99 shape) ----------------
      val init = CdcDedup.latestPerKeyStrict(
        ev.filter($"ts" < lit(cutoff).cast("timestamp")),
        Seq("user_id"), "ts", Seq("event_id"))
      val cfg = TableConfig("user_state", Seq("user_id"),
        precombineKey = Some("event_id"), clusterByKey = true,
        changeDataFeed = true)
      val tbl = CowTable(spark, s"$root/user_state", cfg)
      val (_, tCreate) = time {
        tbl.create(init.repartitionByRange(evFiles, $"user_id"))
      }
      val nFiles = tbl.manifest(tbl.currentVersion).files.size
      val rows = tbl.manifest(tbl.currentVersion).rowCount
      def freshFiles(v: Int): Int = {
        val prev = tbl.manifest(v - 1).files.map(_.path).toSet
        tbl.manifest(v).files.count(f => !prev(f.path))
      }

      // the q75 small-batch shape: a CONSTANT contiguous key slice's
      // post-cutoff CDC (hot recent keys — replica 0's users 300..500, so
      // the batch is the same rows at every scale), DMS-enveloped, applied
      // via the real pipeline; range clustering must prune the rewrite to
      // the few files holding that slice regardless of table size
      val batch = ev
        .filter($"ts" >= lit(cutoff).cast("timestamp") &&
          $"user_id".between(300, 500))
        .select(
          when($"event_type" === "error", "D")
            .when($"event_type" === "signup", "I")
            .otherwise("U").as("Op"),
          $"ts".as("timestamp"),
          $"user_id", $"event_id", $"event_type", $"value")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val batchRows = batch.count()
      val (res, tApply) = time { CdcPipeline.applyBatch(tbl, batch) }
      val applyTouched = freshFiles(tbl.currentVersion)

      val vTail = tbl.currentVersion
      val (nChanges, tFeed) = time {
        tbl.readChangeFeed(vTail - 1, vTail).count()
      }

      // ---- small SQL MERGE (q85/q89 shape) -----------------------------
      val sql = "sp_es_" + name.replace(".", "_")
      spark.sql(s"DROP TABLE IF EXISTS $sql")
      spark.sql(s"CREATE TABLE $sql USING graft LOCATION '$root/user_state'")
      tbl.read().filter($"user_id".between(600, 800))
        .limit(200)
        .withColumn("value", $"value" + 1.0)
        .createOrReplaceTempView("sf1_merge_batch")
      spark.table("sf1_merge_batch").cache().count()
      val preMerge = tbl.currentVersion
      val (_, tMerge) = time {
        spark.sql(
          s"""MERGE INTO $sql t USING sf1_merge_batch s
             |ON t.user_id = s.user_id
             |WHEN MATCHED THEN UPDATE SET t.value = s.value
             |WHEN NOT MATCHED THEN INSERT *
             |""".stripMargin)
      }
      val mergeTouched = {
        val prev = tbl.manifest(preMerge).files.map(_.path).toSet
        tbl.manifest(tbl.currentVersion).files.count(f => !prev(f.path))
      }

      // ---- customer delete + compact (q51 shape) -----------------------
      val cust = repCustomer(n)
      val ct = CowTable.replace(spark, s"$root/customer",
        TableConfig("customer", Seq("c_custkey")),
        cust.repartition(custFiles))
      val (_, tDelete) = time {
        ct.delete(cust.filter($"c_acctbal" < 0))
      }
      val preCompact = ct.manifest(ct.currentVersion).files.size
      val (_, tCompact) = time {
        ct.compact(smallBytes = Long.MaxValue, targetPartitions = 1)
      }
      val postCompact = ct.manifest(ct.currentVersion).files.size

      println(s"""{"probe":"sf1","scale":"$name","state_rows":$rows,""" +
        s""""state_files":$nFiles,"create_sec":${f"$tCreate%.2f"},""" +
        s""""cdc_batch_rows":$batchRows,""" +
        s""""apply_sec":${f"$tApply%.2f"},"apply_files":$applyTouched,""" +
        s""""feed_sec":${f"$tFeed%.2f"},"feed_rows":$nChanges,""" +
        s""""merge_sec":${f"$tMerge%.2f"},"merge_files":$mergeTouched,""" +
        s""""delete_sec":${f"$tDelete%.2f"},""" +
        s""""compact_sec":${f"$tCompact%.2f"},""" +
        s""""compact_files":${preCompact - postCompact}}""")
      val _ = res
      batch.unpersist(blocking = false)
      ev.unpersist(blocking = false)
      spark.table("sf1_merge_batch").unpersist()
      spark.sql(s"DROP TABLE IF EXISTS $sql")
    }
    spark.stop()
  }
}
