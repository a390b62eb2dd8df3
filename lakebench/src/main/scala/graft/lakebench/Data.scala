package graft.lakebench

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seeded inputs and their plain-Spark replay.
  *
  * Every generated value is a function of (seed, batch, row index) through
  * `xxhash64`, and every frame starts from `spark.range` with a fixed slice
  * count: no sampling, no `repartitionByRange` (whose boundaries depend on
  * the RDD id), so the same seed gives byte-identical files, file layouts
  * and therefore identical count metrics.
  *
  * The replay uses no graft code: the latest event per key over the initial
  * rows and every landed batch, ordered by (timestamp, seq); a key whose
  * latest event is a delete is absent. This is exactly what the CDC job
  * computes batch by batch (dedup per batch, upserts before deletes),
  * because event timestamps grow with the batch number.
  */
final class Data(spark: SparkSession, val seed: Long, val shape: Shape) {
  import Data._

  private def h(parts: Column*): Column = xxhash64((lit(seed) +: parts): _*)
  private def pick(n: Long, parts: Column*): Column = pmod(h(parts: _*), lit(n))

  private def payload(parts: Column*): Column = {
    val s = concat_ws(":", parts.map(_.cast("string")): _*)
    concat(sha2(s, 256), substring(sha2(s, 512), 1, 32))
  }

  /** Columns a key carries for its whole life (the fact table's partition
    * and stats columns must not move between files on update). */
  private def fixedCols(id: Column): Seq[Column] =
    if (!shape.partitioned) Nil
    else {
      val ts = (lit(FactStart.getTime / 1000) +
        pmod(id, lit(shape.rows)) * lit(FactSpanSeconds / shape.rows))
        .cast("timestamp")
      Seq(pick(DimRows, id, lit(3)).as("dim_id"), ts.as("event_ts"),
        date_format(ts, "yyyy-MM").as("month"))
    }

  /** The table as created: keys 0 until rows, in `Slices` contiguous key
    * ranges, so `maxRecordsPerFile` cuts files with disjoint key ranges. */
  def initial: DataFrame = {
    val id = col("id")
    spark.range(0, shape.rows, 1, Slices).select(
      (Seq(id) ++ fixedCols(id) ++ Seq(
        lit(0L).as("seq"),
        lit(T0).as("timestamp"),
        pick(16, id, lit(1)).cast("string").as("category"),
        pick(1000, id, lit(2)).as("qty"),
        payload(id, lit(0)).as("payload"),
        lit(null).cast("timestamp").as("last_applied_date"))): _*)
  }

  /** First key of batch `b`'s insert region: every batch owns a fresh
    * range of `slots` keys above all earlier ones. */
  def newBase(b: Int): Long = shape.rows + (b - 1).toLong * shape.slots

  /** Batch `b` as DMS lands it: `Op`, event `timestamp` and the full row
    * image, with duplicate events per key (events share `slots` keys).
    * About 10% of keys are inserts at new keys, 75% updates and 15%
    * deletes. Updates and deletes hit the most recent `recentKeys` keys
    * when the shape is skewed, else keys uniform over the whole table. */
  def batch(b: Int): DataFrame = {
    val bi = lit(b)
    val i = col("id")
    val slot = pick(shape.slots, bi, i, lit(11))
    val kind = pick(100, bi, slot, lit(12))
    val top = newBase(b)
    val old =
      if (shape.recentKeys > 0) lit(top - 1) - pick(shape.recentKeys, bi, slot, lit(13))
      else pick(top, bi, slot, lit(13))
    val key = when(kind < 10, lit(top) + slot).otherwise(old)
    val ts = (lit(T0.getTime / 1000 + b * 3600L) + pick(60, bi, i, lit(14)))
      .cast("timestamp")
    spark.range(0, shape.events, 1, Slices)
      .select(
        when(kind < 10, "I").when(kind < 85, "U").otherwise("D").as("Op"),
        ts.as("timestamp"), key.as("id"),
        (lit(b * 1000000L) + i).as("seq"),
        pick(16, bi, i, lit(15)).cast("string").as("category"),
        pick(1000, bi, i, lit(16)).as("qty"),
        payload(bi, i).as("payload"))
      .select((Seq(col("Op"), col("timestamp"), col("id")) ++
        fixedCols(col("id")) ++
        Seq(col("seq"), col("category"), col("qty"), col("payload"))): _*)
  }

  /** The dimension table of the `lake_serve` join. */
  def dim: DataFrame = spark.range(0, DimRows, 1, 1).select(
    col("id").as("dim_id"),
    concat(lit("r"), (col("id") % 8).cast("string")).as("region"),
    payload(col("id"), lit(99)).as("dim_name"))

  /** Dimension change `r`, the source of `lake_serve`'s SQL MERGE number
    * `r`: `DimChanges` distinct dimension rows, each with a new region. */
  def dimChanges(r: Int): DataFrame = spark.range(0, DimChanges, 1, 1).select(
    pmod(lit(r * DimChanges) + col("id"), lit(DimRows)).as("dim_id"),
    concat(lit("r"), pick(8, lit(r), col("id"), lit(21)).cast("string")).as("region"))

  /** The dimension table after changes 1 to `r`: each row's region from
    * the latest change that moved it. */
  def dimAt(r: Int): DataFrame = {
    val changes = (1 to r).foldLeft(dim.select(col("dim_id"), col("region"),
      lit(0).as("__r"))) { (acc, x) =>
      acc.unionByName(dimChanges(x).withColumn("__r", lit(x)))
    }
    val w = Window.partitionBy("dim_id").orderBy(col("__r").desc)
    val region = changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).select("dim_id", "region")
    dim.drop("region").join(region, "dim_id").select(dim.columns.map(col): _*)
  }

  /** Column order every comparison uses. */
  def tableCols: Seq[String] = initial.columns.toSeq
}

object Data {
  val Slices = 4
  val DimRows = 64L
  val DimChanges = 8L
  val T0: Timestamp = Timestamp.valueOf("2024-01-01 00:00:00")
  val FactStart: Timestamp = Timestamp.valueOf("2023-01-01 00:00:00")
  /** The fact table's event times span these months (its partitions). */
  val FactMonths = 4
  val FactSpanSeconds: Long = FactMonths * 30L * 86400

  /** The audit stamp (`last_applied_date`) batch `b` writes. */
  def auditTs(b: Int): Timestamp = new Timestamp(
    Timestamp.valueOf("2024-06-01 00:00:00").getTime + b * 60000L)

  /** Latest row per key after `batches` (each read back from its landed
    * files and stamped with its audit time), over `initial`. */
  def replay(initial: DataFrame, batches: Seq[(Int, DataFrame)],
      cols: Seq[String]): DataFrame = {
    val events = batches.foldLeft(
      initial.withColumn("Op", lit("I")).select((col("Op") +: cols.map(col)): _*)) {
      case (acc, (b, df)) =>
        acc.unionByName(df.withColumn("last_applied_date", lit(auditTs(b)))
          .select((col("Op") +: cols.map(col)): _*))
    }
    val w = Window.partitionBy("id").orderBy(col("timestamp").desc, col("seq").desc)
    events.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("Op") =!= "D")
      .select(cols.map(col): _*)
  }

  /** The latest event per key of one batch (what the job's dedup keeps). */
  def latest(batch: DataFrame): DataFrame = {
    val w = Window.partitionBy("id").orderBy(col("timestamp").desc, col("seq").desc)
    batch.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Order-independent fingerprint: row count and the sum of per-row
    * hashes over `cols` in the given order. */
  def fingerprint(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}

/** Table and batch sizes of one workload. `recentKeys` > 0 skews updates
  * and deletes to the most recent keys (key pruning skips most files);
  * 0 spreads them uniformly (pruning skips almost nothing). */
final case class Shape(
    rows: Long, rowsPerFile: Long, events: Long, slots: Long,
    recentKeys: Long, partitioned: Boolean)
