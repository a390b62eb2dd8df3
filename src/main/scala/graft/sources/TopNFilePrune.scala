package graft.sources

import graft.storage.{CowTable, FileEntry}

/** A TopN pushed into a graft scan: `ORDER BY col [ASC|DESC] [NULLS
  * FIRST|LAST] ... LIMIT k` with `col` the leading primary-key column or a
  * declared stats column. Pruning-only (the scan stays a SUPERSET source —
  * Spark keeps the global sort+limit on top via `isPartiallyPushed`), so
  * every decision below may be conservative but never wrong.
  *
  * `phys` is the PHYSICAL column name (manifest stats are keyed by it);
  * `numeric` selects the stat-space ordering (BigDecimal vs raw UTF-8 —
  * the same dichotomy [[CowTable.filesInRange]] uses).
  */
final case class GraftTopN(
    col: String, phys: String, isPk: Boolean, numeric: Boolean,
    desc: Boolean, nullsFirst: Boolean, limit: Int,
    /** `col` is also the SOURCE of an order-preserving partition transform
      * (day/hour/month/year): files lacking footer stats for it get
      * synthetic bounds from their partition-dir interval — every row of a
      * `ts_day=d` file has a non-null ts inside day `d`, so the interval
      * endpoints are valid bounds and the null count is exactly zero
      * ([[FilePredicate.sourceInterval]] supplies the same evidence the
      * metadata-delete decider trusts). */
    viaTransform: Boolean = false,
    /** Declared type of the sort column — selects the interval space
      * (micros vs epoch-days) when [[viaTransform]] synthesizes bounds. */
    srcType: Option[org.apache.spark.sql.types.DataType] = None)

/** Manifest-level file pruning for pushed TopN / LIMIT — the reason a
  * "latest N events" query on a 100 TB time-clustered table reads a handful
  * of parquet files instead of all of them. The reference's query layer
  * leans on the same footer-stat ordering for its timeline scans
  * (/root/reference/src/hudi/hudi-cdc-load.py:131's ordered `_commit_time`
  * reads); here the skip happens before a single data byte moves.
  *
  * Soundness (DESC NULLS LAST; the other three variants mirror): each
  * statted file's non-null live rows lie in `[lo, hi]` (parquet footer
  * min/max are true bounds even when binary stats are truncated — min is
  * truncated downward, max upward). Accumulate files in descending `lo`
  * order; file `f` certainly contributes `g(f) = max(0, rows − dvRows −
  * nullCount)` rows with value ≥ `lo(f)` (deletion vectors may have
  * removed any rows, nulls carry no value — both subtract; an unknown
  * null count zeroes the guarantee). Once `Σ g ≥ k` with threshold `L =`
  * the last accumulated `lo`, at least `k` rows have value ≥ `L`; any file
  * with `hi < L` STRICTLY is beaten on the first sort key by all of them —
  * tie-breaking keys can never resurrect it — and its own nulls rank last,
  * so the whole file drops. Under NULLS FIRST the guarantee is all live
  * rows (nulls outrank every value) but a beaten file may only drop when
  * its null count is known zero (its nulls would outrank everything).
  * If `Σ g` never reaches `k`, nothing prunes. Files without usable stats
  * (absent bounds, or a NaN bound a numeric parse rejects) are always
  * kept and never accumulated.
  */
object TopNFilePrune {

  def pruneTopN(files: Seq[FileEntry], t: GraftTopN): Seq[FileEntry] = {
    def rawBounds(e: FileEntry): Option[(String, String)] =
      if (t.isPk) e.minKey.zip(e.maxKey)
      else e.extra.get(t.phys).flatMap(r => r.mn.zip(r.mx))
    if (t.numeric) {
      // a NaN/Infinity footer stat fails the parse ⇒ the file is statless
      // (kept unconditionally, guarantees nothing)
      def dec(e: FileEntry): Option[(BigDecimal, BigDecimal)] =
        rawBounds(e).flatMap { case (mn, mx) =>
          scala.util.Try((BigDecimal(mn), BigDecimal(mx))).toOption
        }
      run(files, t, dec)
    } else
      run(files, t, rawBounds)(CowTable.utf8Ordering)
  }

  /** Bare LIMIT (no ordering): any `limit` live rows satisfy it, so keep
    * manifest-order files until their exact live-row sum (rows − dvRows)
    * covers the limit. Spark keeps its own Limit on top (partial push). */
  def pruneLimit(files: Seq[FileEntry], limit: Int): Seq[FileEntry] = {
    var acc = 0L
    val kept = Seq.newBuilder[FileEntry]
    val it = files.iterator
    while (acc < limit && it.hasNext) {
      val e = it.next(); kept += e; acc += e.liveRows
    }
    if (acc >= limit) kept.result() else files
  }

  private def run[B](files: Seq[FileEntry], t: GraftTopN,
      bnds: FileEntry => Option[(B, B)])(
      implicit ord: Ordering[B]): Seq[FileEntry] = {
    val statted = files.flatMap(e => bnds(e).map(e -> _))
    if (statted.isEmpty) return files
    def nullsOf(e: FileEntry): Option[Long] = e.nulls.get(t.phys)
    def guarantee(e: FileEntry): Long =
      if (t.nullsFirst) e.liveRows
      else math.max(0L, e.rows - e.dvRows - nullsOf(e).getOrElse(e.rows))
    // rank by each file's WORST bound, best-first: DESC worst=lo (desc),
    // ASC worst=hi (asc) — greedily maximizes the certified threshold
    val byWorst =
      if (t.desc) statted.sortBy(_._2._1)(ord.reverse)
      else statted.sortBy(_._2._2)(ord)
    var acc = 0L
    var threshold: Option[B] = None
    val it = byWorst.iterator
    while (acc < t.limit && it.hasNext) {
      val (e, (lo, hi)) = it.next()
      acc += guarantee(e)
      threshold = Some(if (t.desc) lo else hi)
    }
    if (acc < t.limit) return files // cannot certify k rows: no pruning
    val thr = threshold.get
    files.filter { e =>
      bnds(e) match {
        case None => true // statless: must read
        case Some((lo, hi)) =>
          val beaten = if (t.desc) ord.lt(hi, thr) else ord.gt(lo, thr)
          if (!beaten) true
          // nulls rank first: only a known-null-free beaten file may drop
          else if (t.nullsFirst) !nullsOf(e).contains(0L)
          else false
      }
    }
  }
}
