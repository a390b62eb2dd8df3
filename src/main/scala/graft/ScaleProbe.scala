package graft

import graft.core.SessionTuning
import org.apache.spark.sql.functions._
import graft.storage.{CowTable, TableConfig}

/** Empirical 100×-posture probe (VERDICT r7 ask #8, extended r10): build COW
  * tables at four scales from the SAME driver testdata (sf0.01 lineitem,
  * sf0.1 lineitem, sf0.1 replicated 8× and 32× with shifted keys) and
  * measure every storage-heavy operation whose cost must track CHANGED
  * FILES, not table size:
  *
  *  - small-batch upsert / delete (API path)
  *  - tail change-feed read
  *  - small-batch SQL MERGE (the q85/q89 DSv2 row-level path)
  *  - compaction of CDC litter (cost tracks the litter, not the table)
  *  - incremental z-order OPTIMIZE after a small append (signature-tagged
  *    files skip re-clustering — cost tracks fresh files only; the first
  *    full OPTIMIZE is reported too as the expected O(table) contrast)
  *
  * Flat latency across the scales is the empirical evidence for the
  * "O(changed-files) scaling" design notes in SURVEY.md §2.7.
  *
  * Run manually (NOT part of the driver contract):
  * {{{
  * SPARK_GRAFT_SF01=/root/testdata/sf0.01 SPARK_GRAFT_SF1=/root/testdata/sf0.1 \
  *   sbt "runMain graft.ScaleProbe /tmp/scaleprobe"
  * }}}
  * Prints one JSON line per scale with seconds + file counts.
  */
object ScaleProbe {
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/scaleprobe")
    val spark = SessionTuning.builder(defaultCpus = 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val sf001 = sys.env.getOrElse("SPARK_GRAFT_SF01", "/root/testdata/sf0.01")
    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF1", "/root/testdata/sf0.1")

    // key = l_orderkey (first col) — composite stats cover (orderkey, line#)
    def lineitem(dir: String) = spark.read
      .parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")

    // n× replication with DISJOINT key ranges (shifted orderkeys): the same
    // key distribution at n× the files/rows — a scale-up, not a skew change
    def rep(dir: String, n: Int) = (0 until n).map { i =>
      lineitem(dir).withColumn("l_orderkey",
        $"l_orderkey" + lit(i.toLong * 100000000L))
    }.reduce(_ unionByName _)

    // (label, data, target file count) — file count GROWS with the data
    // (as it would on a real lake); the probe claim is that small-batch
    // mutation latency does NOT
    val scales = Seq(
      ("sf0.01", () => lineitem(sf001), 8),
      ("sf0.1", () => lineitem(sf01), 32),
      ("sf0.1x8", () => rep(sf01, 8), 256),
      ("sf0.1x32", () => rep(sf01, 32), 1024))

    for ((name, mk, nParts) <- scales) {
      val root = s"$out/$name"
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(root))
      val t = CowTable(spark, s"$root/li",
        TableConfig("li", Seq("l_orderkey", "l_linenumber")))
      val df = mk()
      val (_, tCreate) = time {
        t.create(df.repartitionByRange(nParts, $"l_orderkey"))
      }
      val nFiles = t.manifest(t.currentVersion).files.size
      val rows = t.manifest(t.currentVersion).rowCount
      def freshFiles(v: Int): Int = {
        val prev = t.manifest(v - 1).files.map(_.path).toSet
        t.manifest(v).files.count(f => !prev(f.path))
      }

      // small-batch upsert: a contiguous ~2000-orderkey slice (a realistic
      // CDC batch: hot recent keys), pruning to a few files at any scale
      val batch = df.filter($"l_orderkey".between(3000, 5000))
        .limit(1000)
        .withColumn("l_quantity", $"l_quantity" + 1).cache()
      batch.count()
      val (_, tUpsert) = time { t.upsert(batch) }
      val touched = freshFiles(t.currentVersion)

      // tail change-feed read of that upsert commit
      val vu = t.currentVersion
      val (nChanges, tFeed) = time {
        t.readChangeFeed(vu - 1, vu).count()
      }

      // small-batch delete, same locality
      val dk = df.filter($"l_orderkey".between(8000, 9000))
        .select("l_orderkey", "l_linenumber").limit(500).cache()
      dk.count()
      val (_, tDelete) = time { t.delete(dk) }

      // small-batch SQL MERGE (q85/q89 shape): the DSv2 row-level path —
      // group-filter pruning must hold rewrites to the touched files
      val sql = "spli_" + name.replace(".", "_")
      spark.sql(s"DROP TABLE IF EXISTS $sql")
      spark.sql(s"CREATE TABLE $sql USING graft LOCATION '$root/li'")
      // key-unique source (the synthetic lineitem repeats (orderkey, line#)
      // pairs; a real CDC merge dedups its batch first — CdcDedup's job).
      // TWO merges over different key windows: the first is the warm-up
      // (JIT + shuffle-service init right after the big create dominates
      // it), the second is the reported per-statement cost.
      def mergeBatch(lo: Int, hi: Int): Double = {
        df.filter($"l_orderkey".between(lo, hi))
          .dropDuplicates("l_orderkey", "l_linenumber").limit(1000)
          .withColumn("l_quantity", $"l_quantity" + 2)
          .createOrReplaceTempView("sp_batch")
        spark.table("sp_batch").cache().count()
        val (_, sec) = time {
          spark.sql(
            s"""MERGE INTO $sql t USING sp_batch s
               |ON t.l_orderkey = s.l_orderkey
               |  AND t.l_linenumber = s.l_linenumber
               |WHEN MATCHED THEN UPDATE SET t.l_quantity = s.l_quantity
               |WHEN NOT MATCHED THEN INSERT *
               |""".stripMargin)
        }
        spark.table("sp_batch").unpersist()
        sec
      }
      val tMergeWarm = mergeBatch(12000, 14000)
      val tMerge = mergeBatch(16000, 18000)
      val mergeTouched = freshFiles(t.currentVersion)

      // CDC litter: 5 tiny insert commits of brand-new keys, then compact
      // ONLY the litter (threshold sized between litter and base files from
      // the manifest's own byte counts) — cost must track the litter
      val preLitter = t.currentVersion
      // l_shipdate matches the table's inferred type (NTZ on current
      // testdata): LocalDateTime encodes as TIMESTAMP_NTZ
      val epoch = java.time.LocalDateTime.ofEpochSecond(
        0L, 0, java.time.ZoneOffset.UTC)
      (0 until 5).foreach { i =>
        t.upsert(Seq.tabulate(100)(j =>
          (9000000000L + i * 1000L + j, 1, 1.0, epoch)).toDF(
          "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"))
      }
      val mLit = t.manifest(t.currentVersion)
      val basePaths = t.manifest(preLitter).files.map(_.path).toSet
      val litterMax = mLit.files.filterNot(e => basePaths(e.path))
        .map(_.bytes).max
      val baseMin = mLit.files.filter(e => basePaths(e.path))
        .map(_.bytes).min
      // The midpoint threshold only separates litter from base when every
      // base file outweighs every litter file; if earlier upserts left a
      // base file smaller than the litter (possible at tiny SFs), the
      // midpoint would leak litter or sweep base files and skew the
      // compact_sec/compact_files evidence — fail loud instead.
      assert(baseMin > litterMax,
        s"litter compaction probe invalid: base min $baseMin <= litter " +
          s"max $litterMax — threshold cannot separate the two populations")
      val thr = litterMax + math.max(1L, (baseMin - litterMax) / 2)
      val preCompact = t.currentVersion
      val (_, tCompact) = time {
        t.compact(smallBytes = thr, targetPartitions = 1)
      }
      val compacted =
        t.manifest(preCompact).files.size - t.manifest(t.currentVersion)
          .files.size + freshFiles(t.currentVersion)

      // z-order OPTIMIZE: the first full pass is expected O(table) — the
      // claim under test is the SECOND pass after a small append, where
      // signature-tagged files skip and cost is O(fresh files)
      val (_, tZFull) = time { t.optimize() }
      t.upsert(Seq.tabulate(1000)(j =>
        (9500000000L + j, 1, 1.0, epoch)).toDF(
        "l_orderkey", "l_linenumber", "l_quantity", "l_shipdate"))
      val preZ = t.currentVersion
      val (_, tZIncr) = time { t.optimize() }
      // A fully signature-tagged table makes the incremental optimize a
      // no-op WITHOUT a commit; freshFiles would then diff against the
      // append commit and misreport the append's files as z-order cost.
      val zIncrFiles =
        if (t.currentVersion == preZ) 0 else freshFiles(t.currentVersion)

      // COLD manifestAt (round 17): evict the driver-side fold cache and
      // time the first load of the CURRENT version — the per-session
      // planning cost a fresh driver pays: the nearest parquet checkpoint
      // (one row per FileEntry) plus the JSON deltas after it.
      val vCur = t.currentVersion
      CowTable.evictManifestCache()
      val (_, tColdManifest) = time { t.manifest(vCur) }
      val (_, tWarmManifest) = time { t.manifest(vCur) }
      val parquetCkpt = {
        val md = new java.io.File(s"$root/li/_manifests")
        md.isDirectory && md.listFiles().exists(
          _.getName.endsWith(".files.parquet"))
      }

      println(s"""{"probe":"$name","rows":$rows,"files":$nFiles,""" +
        s""""cold_manifest_sec":${f"$tColdManifest%.4f"},""" +
        s""""warm_manifest_sec":${f"$tWarmManifest%.4f"},""" +
        s""""parquet_checkpoint":$parquetCkpt,""" +
        s""""create_sec":${f"$tCreate%.2f"},""" +
        s""""upsert_sec":${f"$tUpsert%.2f"},"upsert_files":$touched,""" +
        s""""delete_sec":${f"$tDelete%.2f"},""" +
        s""""feed_sec":${f"$tFeed%.2f"},"feed_rows":$nChanges,""" +
        s""""merge_sql_warm_sec":${f"$tMergeWarm%.2f"},""" +
        s""""merge_sql_sec":${f"$tMerge%.2f"},"merge_files":$mergeTouched,""" +
        s""""compact_sec":${f"$tCompact%.2f"},"compact_files":$compacted,""" +
        s""""zorder_full_sec":${f"$tZFull%.2f"},""" +
        s""""zorder_incr_sec":${f"$tZIncr%.2f"},""" +
        s""""zorder_incr_files":$zIncrFiles}""")
      batch.unpersist(); dk.unpersist()
      spark.sql(s"DROP TABLE IF EXISTS $sql")
    }
    spark.stop()
  }
}
