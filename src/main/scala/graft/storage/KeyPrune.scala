package graft.storage

import java.nio.file.{Files, Path}

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** The key-set → files pruner every merge shares: the API upsert and
  * delete, SQL `MERGE INTO` (through `MergeSourcePrune`) and the rebase
  * check that proves a concurrent winner's files disjoint from an
  * operation's keys.
  *
  * Exact key-set pruning: a batch touching keys {10, 450} must NOT touch
  * every file in the range 10..450 — range-overlap pruning would rewrite
  * the whole table whenever a batch mixes one low and one high key (any
  * insert of a new max key does). Files are compared in STAT SPACE: the
  * value space manifest min/max strings live in ([[keyStatColumn]] maps a
  * key column there), ordered by [[position]].
  */
object KeyPrune {

  /** Distinct source keys above which pruning switches from the driver-side
    * key set to the distributed range join (bounds driver memory). */
  val MaxKeys = 100000

  /** A stat string's place in its column's order: numeric stats compare as
    * BigDecimal, all others by unsigned UTF-8 bytes (UTF8String — the order
    * parquet footer stats and Spark min/max use; JVM String order diverges
    * for supplementary-plane characters). */
  type Position = AnyRef with Comparable[AnyRef]

  /** None ⇔ the value has no place in the order: a numeric stat or key
    * that does not parse (NaN, ±Infinity, a corrupt stat). Every caller
    * then keeps the file — such a value may sit anywhere. */
  def position(s: String, numeric: Boolean): Option[Position] =
    if (!numeric) Some(UTF8String.fromString(s).asInstanceOf[Position])
    else Try(new java.math.BigDecimal(s).asInstanceOf[Position]).toOption

  /** The stat-space comparator; None when either side has no position. */
  def compare(a: String, b: String, numeric: Boolean): Option[Int] =
    for { x <- position(a, numeric); y <- position(b, numeric) }
      yield x.compareTo(y)

  /** Partition `m.files` into (touched, untouched) for the key rows of
    * `source` — the columns named like `m.primaryKey` (the first, and the
    * second when present; other columns are ignored). An untouched file
    * provably holds none of the batch's keys. Returns None ⇔ empty batch;
    * a batch without the leading key column touches everything.
    *
    * ONE bounded job collects the batch's distinct key stat-pairs. Under
    * `maxKeys` they drive three driver-side stages: first-column binary
    * search, second-column refinement, then bloom refinement (tables with
    * `bloomIndex`). Over the cap, distributed range joins ([[joinCol]]) on
    * the first column, then the second, keep the driver at O(files). A NULL key
    * cannot be located by null-blind min/max stats: it touches every file
    * on its column. */
  def touched(m: CommitManifest, root: Path, source: DataFrame,
      maxKeys: Int = MaxKeys): Option[(Seq[FileEntry], Seq[FileEntry])] = {
    val k1 = m.primaryKey.head
    if (!source.columns.contains(k1)) return Some((m.files, Nil))
    val k2 = m.primaryKey.lift(1).filter(source.columns.contains)
    def stat(c: String) = keyStatColumn(
      col(c), source.schema(c).dataType, source.sparkSession).cast("string")
    val rows = source
      .select(stat(k1).as("__k1") +: k2.map(stat(_).as("__k2")).toSeq: _*)
      .distinct().limit(maxKeys + 1).collect()
    if (rows.isEmpty) return None
    if (rows.length > maxKeys) {
      // the same two column stages, each a distributed join (no bloom)
      val (t1, u1) = joinCol(m.files, source.select(stat(k1).as("__k")),
        0, m.keyNumeric)
      val (t2, u2) = k2.filter(_ => t1.nonEmpty)
        .fold((t1, Seq.empty[FileEntry]))(c =>
          joinCol(t1, source.select(stat(c).as("__k")), 1, m.key2Numeric))
      return Some((t2, u1 ++ u2))
    }
    val keys1 = rows.map(r => Option(r.getString(0))).distinct.toSeq
    def keys2 = rows.map(r => Option(r.getString(1))).distinct.toSeq
    // col-2 refinement applies under a NULL first-column key too: a
    // matching row's k2 is in the batch's col-2 set regardless of k1
    def refine2(fs: Seq[FileEntry]) =
      if (k2.isEmpty) (fs, Nil) else containing(fs, keys2, m.key2Numeric, 1)
    if (keys1.contains(None)) return Some(refine2(m.files))
    val (t1, u1) = containing(m.files, keys1, m.keyNumeric, 0)
    val (t2, u2) = refine2(t1)
    val (t3, u3) =
      if (m.bloomIndex) refineBloom(root, t2, keys1.flatten) else (t2, Nil)
    Some((t3, u1 ++ u2 ++ u3))
  }

  /** Split `files` by whether key column `colIdx`'s [min, max] may contain
    * one of `keys` (stat strings; None = NULL). Files without stats, or
    * with a bound that has no [[position]], stay touched; so does every
    * file when a key is NULL or has no position. */
  private[graft] def containing(files: Seq[FileEntry],
      keys: Seq[Option[String]], numeric: Boolean, colIdx: Int)
      : (Seq[FileEntry], Seq[FileEntry]) = {
    val ps = keys.map(_.flatMap(position(_, numeric)))
    if (ps.contains(None)) return (files, Nil)
    val sorted = ps.flatten.sortWith(_.compareTo(_) < 0).toIndexedSeq
    files.partition { e =>
      val (mn, mx) = e.bounds(colIdx)
      (mn.flatMap(position(_, numeric)), mx.flatMap(position(_, numeric)))
      match {
        case (Some(lo), Some(hi)) =>
          // lower bound: first index with sorted(i) >= lo
          var l = 0
          var r = sorted.length
          while (l < r) {
            val mid = (l + r) >>> 1
            if (sorted(mid).compareTo(lo) < 0) l = mid + 1 else r = mid
          }
          l < sorted.length && sorted(l).compareTo(hi) <= 0
        case _ => true
      }
    }
  }

  /** BLOOM refinement: of the files range pruning kept, drop those whose
    * key Bloom filter contains NONE of the batch's keys. This is where
    * point-key merges on range-overlapping files win: [min,max] admits
    * everything when files interleave key space, but a bloom answers per
    * key. False positives keep extra files (harmless); a missing or
    * unreadable sidecar keeps the file (never a wrong skip). */
  private def refineBloom(root: Path, touched: Seq[FileEntry],
      keys: Seq[String]): (Seq[FileEntry], Seq[FileEntry]) =
    touched.partition { e =>
      val p = root.resolve(e.path + ".bloom")
      val bloom =
        if (!Files.isRegularFile(p)) None
        else Try {
          val in = Files.newInputStream(p)
          try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
          finally in.close()
        }.toOption
      bloom.forall(bf => keys.exists(bf.mightContainString))
    }

  /** Distributed EXACT prune for oversized batches: join the batch's keys
    * (`keys`: one stat-string column `__k` of key column `colIdx`) against
    * the broadcast ranges of `files` and collect only the O(files) set of
    * touched file ids. String keys compare in Spark's UTF8String byte
    * order — the same order the file stats are in; numeric/temporal keys
    * compare as DECIMAL(38,18) via try_cast (a plain cast would throw
    * under ANSI). Scale 18 covers double and micros-scale values exactly;
    * anything try_cast nulls out (NaN, ±Infinity, a >20-integer-digit or
    * >18-decimal-digit value) degrades CONSERVATIVELY — an overflowing
    * file bound marks that file touched,
    * an overflowing source key falls back to touching every file — never
    * the silent misprune a rounded DECIMAL(38,10) comparison allowed
    * (values differing from a bound only past the 10th decimal could round
    * across it and leave duplicate keys after merge). */
  private def joinCol(files: Seq[FileEntry], keys: DataFrame, colIdx: Int,
      numeric: Boolean): (Seq[FileEntry], Seq[FileEntry]) = {
    val spark0 = keys.sparkSession
    import spark0.implicits._
    val keyed = keys.distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (keyed.filter(col("__k").isNull).limit(1).count() > 0)
        return (files, Nil) // stats cannot locate null keys
      def side(name: String) =
        if (numeric) expr(s"try_cast($name AS DECIMAL(38,18))")
        else col(name)
      if (numeric &&
        keyed.filter(side("__k").isNull).limit(1).count() > 0)
        return (files, Nil) // key outside DECIMAL(38,18): no prune
      // A numeric comparison is exact iff both file BOUNDS sit on the
      // DECIMAL(38,18) grid: source keys may then round to the grid
      // (HALF_UP) without ever escaping a containing [mn, mx] — rounding
      // to the nearest grid point cannot cross a grid-aligned bound.
      // Bounds NOT on the grid (scale > 18 or > 20 integer digits, e.g.
      // extreme doubles) make the file unprunable-by-join: mark touched.
      def onGrid(s: String): Boolean = Try {
        val d = new java.math.BigDecimal(s).stripTrailingZeros
        d.scale <= 18 && d.precision - d.scale <= 20
      }.getOrElse(false)
      val ranged = files.zipWithIndex.flatMap { case (e, i) =>
        e.bounds(colIdx) match {
          case (Some(mn), Some(mx)) if !numeric || (onGrid(mn) && onGrid(mx)) =>
            Some((i, mn, mx))
          case _ => None
        }
      }
      val statless = files.indices.toSet -- ranged.map(_._1)
      val ranges = ranged.toDF("__fid", "__mn", "__mx")
        .select(col("__fid"),
          side("__mn").as("__mn"), side("__mx").as("__mx"))
      val touchedIds = keyed
        .select(side("__k").as("__k"))
        .join(broadcast(ranges),
          col("__k") >= col("__mn") && col("__k") <= col("__mx"))
        .select("__fid").distinct()
        .collect().map(_.getInt(0)).toSet ++ statless
      files.zipWithIndex.partition { case (_, i) => touchedIds(i) }
        match { case (t, u) => (t.map(_._1), u.map(_._1)) }
    } finally keyed.unpersist(blocking = false)
  }

  /** The key column in the value space the stats strings use. Timestamp and
    * date keys map to their physical integers (micros / days since epoch) —
    * the form parquet footer stats arrive in; `CAST(ts AS STRING)` datetime
    * text would compare garbage against it (a silent way to misclassify
    * files as untouched and duplicate rows on merge). */
  def keyStatColumn(c: Column, dt: DataType, spark: SparkSession): Column =
    dt match {
      case TimestampType => unix_micros(c)
      case TimestampNTZType =>
        // NTZ is a wall clock; its stat space is micros "as if UTC" — the
        // raw INT64 the parquet footer stores and what statValueString maps
        // a pushed LocalDateTime literal to. convert_timezone pins the
        // NTZ→TIMESTAMP reinterpretation to UTC so the value is independent
        // of the session time zone (a bare cast would shift by its offset).
        unix_micros(convert_timezone(
          lit("UTC"), lit(spark.sessionState.conf.sessionLocalTimeZone), c)
          .cast(TimestampType))
      case DateType => unix_date(c)
      case _ => c
    }
}
