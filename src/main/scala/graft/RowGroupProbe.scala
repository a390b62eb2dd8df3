package graft

import graft.core.SessionTuning
import org.apache.spark.sql.functions._
import graft.storage.{CowTable, TableConfig}

/** Empirical evidence for parquet ROW-GROUP skipping (round 15): build a
  * key-clustered table whose files each hold MANY row groups (4 MB block
  * size ⇒ ~80 MB files of ~20 groups — the shape a 100 TB table's 128 MB
  * files have natively), then time selective scans with the skip ON
  * (default) vs OFF (`option("rowGroupFilter","false")`):
  *
  *  - a key range that manifest pruning narrows to ONE file — group skip
  *    then reads ~1 group of it instead of decoding the whole file;
  *  - an equality on a NON-stats column (no manifest evidence at all) —
  *    footer stats are the only thing standing between the predicate and
  *    a full-table decode.
  *
  * Run manually (NOT part of the driver contract):
  * {{{ sbt "runMain graft.RowGroupProbe /tmp/rgprobe" }}}
  * Prints one JSON line with seconds (min of 3 reps each).
  */
object RowGroupProbe {
  private def time[T](f: => T): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/rgprobe")
    val spark = SessionTuning.builder(defaultCpus = 32)
      // small parquet blocks so each ~80 MB file carries ~20 row groups
      .config("spark.hadoop.parquet.block.size", 4 << 20)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = out + "/t"
    CowTable.deleteRecursively(java.nio.file.Paths.get(out))
    val n = 4000000L
    // payload: layout-correlated prefix (a ULID/timestamp-like column that
    // tracks insert order without being a declared stats column) + md5 tail
    // so bytes are real (no dictionary/RLE collapse)
    val df = spark.range(n).select(
      $"id",
      concat(lpad($"id".cast("string"), 12, "0"), lit("-"),
        md5(concat($"id".cast("string"), lit("-pay")))).as("payload"),
      ($"id" % 997 * 1.5).as("v"))
    val t = CowTable(spark, root,
      TableConfig("t", Seq("id"), clusterByKey = true))
    t.create(df.repartitionByRange(4, $"id"))
    val m = t.manifest(t.currentVersion)
    val bytes = m.files.map(_.bytes).sum

    def scan(rgf: Boolean) = spark.read.format("graft")
      .option("rowGroupFilter", rgf.toString).load(root)
    def best(f: => Long): Double = (1 to 3).map(_ => time(f)).min
    val needle = scan(rgf = true).filter($"id" === n / 4)
      .select("payload").head().getString(0)

    // key range over the WIDE projection: manifest narrows to 1 file;
    // row groups decide how much of its payload bytes actually decode
    val lo = n / 2
    def keyRange(rgf: Boolean): Long =
      scan(rgf).filter($"id" >= lo && $"id" < lo + 1000)
        .agg(sum(length($"payload"))).head().getLong(0)
    // non-stats column equality: ONLY footer stats can skip anything
    def payloadEq(rgf: Boolean): Long =
      scan(rgf).filter($"payload" === needle).count()

    require(keyRange(true) == keyRange(false))
    require(payloadEq(true) == payloadEq(false))
    val kOn = best(keyRange(true))
    val kOff = best(keyRange(false))
    val pOn = best(payloadEq(true))
    val pOff = best(payloadEq(false))

    // ROW-MODE twin (round 16): DV'd files / CDF drop partitions degrade
    // to the row reader — the same group skipping must pay there too
    def scanRow(rgf: Boolean) = spark.read.format("graft")
      .option("rowGroupFilter", rgf.toString)
      .option("columnar", "false").load(root)
    def keyRangeRow(rgf: Boolean): Long =
      scanRow(rgf).filter($"id" >= lo && $"id" < lo + 1000)
        .agg(sum(length($"payload"))).head().getLong(0)
    def payloadEqRow(rgf: Boolean): Long =
      scanRow(rgf).filter($"payload" === needle).count()
    require(keyRangeRow(true) == keyRange(false))
    require(payloadEqRow(true) == payloadEq(false))
    val rkOn = best(keyRangeRow(true))
    val rkOff = best(keyRangeRow(false))
    val rpOn = best(payloadEqRow(true))
    val rpOff = best(payloadEqRow(false))
    println(
      s"""{"probe":"rowgroup","rows":$n,"files":${m.files.size},""" +
        s""""bytes":$bytes,"key_range_on_sec":$kOn,""" +
        s""""key_range_off_sec":$kOff,"payload_eq_on_sec":$pOn,""" +
        s""""payload_eq_off_sec":$pOff,""" +
        s""""row_key_range_on_sec":$rkOn,"row_key_range_off_sec":$rkOff,""" +
        s""""row_payload_eq_on_sec":$rpOn,"row_payload_eq_off_sec":$rpOff}""")
    spark.stop()
  }
}
