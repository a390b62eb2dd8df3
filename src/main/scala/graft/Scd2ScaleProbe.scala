package graft

import graft.core.SessionTuning
import graft.operators.Scd2
import graft.storage.{CowTable, TableConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical 100×-posture probe for the INCREMENTAL SCD2 pillar
  * (companion of [[ScaleProbe]] / [[TextScaleProbe]] / [[EmbedScaleProbe]] /
  * [[StreamScaleProbe]]): seed a key-clustered SCD2 lake table at
  * 1× / 4× / 16× the key count, then apply the SAME constant-size batch
  * (2,000 touched keys: 1,500 new versions + 500 tombstones).
  *
  * The 100 TB claim under test: `Scd2.applyBatch` is O(affected keys'
  * stored history + batch) — the semi-join restrict + merge-style file
  * pruning on the clustered key bounds both the read and the rewrite to
  * the touched slice — NEVER O(table). So `apply_sec` must stay ~flat
  * while the seeded table grows 16×; seed time growing ~n is expected
  * and honest (every version is written once).
  *
  * Run manually (NOT part of the driver contract):
  * {{{
  * sbt "runMain graft.Scd2ScaleProbe /tmp/scd2probe"
  * }}}
  * Prints one JSON line per scale.
  */
object Scd2ScaleProbe {
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/scd2probe")
    val spark = SessionTuning.builder(defaultCpus = 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // synthetic change log: nKeys keys × 3 versions (I, U, U); change_id
    // globally unique, per-key timestamps strictly increasing by version
    def seedLog(nKeys: Long): DataFrame =
      spark.range(nKeys * 3).select(
        (col("id") % nKeys).as("k"),
        col("id").as("change_id"),
        when(col("id") < nKeys, "I").otherwise("U").as("Op"),
        timestamp_seconds(lit(1700000000L) +
          (col("id") / nKeys) * 86400L + col("id") % nKeys % 3600L)
          .as("ts"),
        concat(lit("v"), (col("id") / nKeys)).as("payload"))

    // the constant batch: keys 0..1999 exist at every scale; 1,500 get a
    // 4th version, 500 a tombstone — fresh change_ids far above any seed
    def batch(nKeys: Long): DataFrame =
      spark.range(2000L).select(
        col("id").as("k"),
        (col("id") + 900000000L).as("change_id"),
        when(col("id") % 4 === 3, "D").otherwise("U").as("Op"),
        timestamp_seconds(lit(1700000000L) + 10L * 86400L + col("id"))
          .as("ts"),
        lit("v3").as("payload"))

    for ((name, mult) <- Seq(("x1", 1L), ("x4", 4L), ("x16", 16L))) {
      val nKeys = 25000L * mult
      val root = s"$out/$name"
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val tbl = CowTable(spark, root + "/scd2",
        TableConfig("scd2_probe", Seq("k", "change_id"),
          clusterByKey = true))
      val (_, tSeed) = time {
        Scd2.applyBatch(tbl, seedLog(nKeys), Seq("k"), "ts", "Op",
          Seq("change_id")).count()
      }
      val tableRows = tbl.read().count()
      // applyBatch's upsert is eager; the returned history VIEW is lazy —
      // count it OUTSIDE the timer (a full-view count is O(table) and
      // would pollute the O(batch) claim under test)
      val (hist, tApply) = time {
        Scd2.applyBatch(tbl, batch(nKeys), Seq("k"), "ts", "Op",
          Seq("change_id"))
      }
      val histRows = hist.count()
      println(s"""{"probe":"scd2","scale":"$name","keys":$nKeys,""" +
        s""""table_rows":$tableRows,"seed_sec":${f"$tSeed%.2f"},""" +
        s""""apply_sec":${f"$tApply%.2f"},"history_rows":$histRows}""")
    }
    spark.stop()
  }
}
