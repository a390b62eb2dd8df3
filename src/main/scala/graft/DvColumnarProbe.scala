package graft

import graft.core.SessionTuning
import org.apache.spark.sql.functions._
import graft.storage.{CowTable, TableConfig}

/** Empirical evidence for DV-TOLERANT COLUMNAR reads (round 17): before,
  * ONE deletion-vectored file degraded the whole scan to the row reader —
  * every file of a heavily-mutated CDC table paid per-row decode until
  * purge/OPTIMIZE. Now DV'd files stay on the vectorized path (batches
  * without deletions pass through untouched; batches with deletions
  * compact). This probe builds a key-clustered fixture (4 M rows,
  * 4 × ~41 MB key-clustered files, ~11 groups/file), DV-deletes a small
  * scattered set (the CDC-merge shape), and times a wide-projection full
  * aggregation three ways:
  *
  *  - `clean_columnar` — the pre-delete ceiling (no DVs anywhere);
  *  - `dv_columnar`    — the new path (DV'd files, vectorized + compact);
  *  - `dv_row`         — `option("columnar","false")`, which is exactly
  *                       the OLD behavior of any scan touching a DV'd file.
  *
  * Run manually (NOT part of the driver contract):
  * {{{ sbt "runMain graft.DvColumnarProbe /tmp/dvprobe" }}}
  * Prints one JSON line with seconds (min of 3 reps each).
  */
object DvColumnarProbe {
  private def time[T](f: => T): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/dvprobe")
    val spark = SessionTuning.builder(defaultCpus = 32)
      .config("spark.hadoop.parquet.block.size", 4 << 20)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = out + "/t"
    CowTable.deleteRecursively(java.nio.file.Paths.get(out))
    val n = 4000000L
    val df = spark.range(n).select(
      $"id",
      concat(lpad($"id".cast("string"), 12, "0"), lit("-"),
        md5(concat($"id".cast("string"), lit("-pay")))).as("payload"),
      ($"id" % 997 * 1.5).as("v"))
    val t = CowTable(spark, root, TableConfig("t", Seq("id"),
      clusterByKey = true, changeDataFeed = true, deletionVectors = true))
    t.create(df.repartitionByRange(4, $"id"))

    def wideAgg(columnar: Boolean): (Long, Long) = {
      val r = spark.read.format("graft")
        .option("columnar", columnar.toString).load(root)
        .agg(sum(length($"payload")), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    def best(f: => (Long, Long)): Double = (1 to 3).map(_ => time(f)).min

    val clean = best(wideAgg(columnar = true))

    // SCATTERED DV deletes across EVERY file at a sub-batch stride — the
    // worst case for batch compaction (virtually every 4096-row batch
    // contains a deletion and must copy its survivors); each file carries
    // a vector, so before this round the whole scan fell to row mode
    val del = (0L until 4000L).map(i => i * 997L + 13L).filter(_ < n)
    t.delete(del.toDF("id"))
    val m = t.manifest(t.currentVersion)
    require(m.files.forall(_.dvPath.isDefined), "every file must be DV'd")

    val expectRows = n - del.size
    require(wideAgg(columnar = true)._2 == expectRows)
    require(wideAgg(columnar = false)._2 == expectRows)
    require(wideAgg(columnar = true) == wideAgg(columnar = false))

    val dvCol = best(wideAgg(columnar = true))
    val dvRow = best(wideAgg(columnar = false))

    // CLUSTERED deletes (the real CDC-merge shape: one key range of one
    // file) — most batches carry NO deletion and pass through untouched
    val root2 = out + "/t2"
    val t2 = CowTable(spark, root2, TableConfig("t", Seq("id"),
      clusterByKey = true, changeDataFeed = true, deletionVectors = true))
    t2.create(df.repartitionByRange(4, $"id"))
    t2.delete((100000L until 104000L).toDF("id"))
    def wideAgg2(columnar: Boolean): (Long, Long) = {
      val r = spark.read.format("graft")
        .option("columnar", columnar.toString).load(root2)
        .agg(sum(length($"payload")), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    require(wideAgg2(columnar = true) == wideAgg2(columnar = false))
    val cdvCol = best(wideAgg2(columnar = true))
    val cdvRow = best(wideAgg2(columnar = false))

    // SELECTIVE range under DVs: composes with row-group skipping (the
    // round-16 win) — the mutated-table point-lookup shape
    def rangeScan(columnar: Boolean): Long =
      spark.read.format("graft").option("columnar", columnar.toString)
        .load(root2).filter($"id" >= 100000L && $"id" < 110000L)
        .agg(sum(length($"payload"))).head().getLong(0)
    require(rangeScan(columnar = true) == rangeScan(columnar = false))
    def bestL(f: => Long): Double = (1 to 3).map(_ => time(f)).min
    val rCol = bestL(rangeScan(columnar = true))
    val rRow = bestL(rangeScan(columnar = false))

    println(
      s"""{"probe":"dv_columnar","rows":$n,"deleted":${del.size},""" +
        s""""files":${m.files.size},"clean_columnar_sec":$clean,""" +
        s""""dv_columnar_sec":$dvCol,"dv_row_sec":$dvRow,""" +
        s""""clustered_dv_columnar_sec":$cdvCol,""" +
        s""""clustered_dv_row_sec":$cdvRow,""" +
        s""""range_dv_columnar_sec":$rCol,"range_dv_row_sec":$rRow}""")
    spark.stop()
  }
}
