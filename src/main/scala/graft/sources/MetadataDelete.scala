package graft.sources

import graft.storage.{ColRange, CommitManifest, CowTable, FileEntry, KeyPrune, PartitionTransform}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, DateType, StructType, TimestampNTZType, TimestampType}

/** METADATA-ONLY DELETE coverage analysis ([[GraftTable.canDeleteWhere]]).
  *
  * The retention-job shape — `DELETE FROM t WHERE ts < X` on a
  * `day(ts)`-partitioned table, or `DELETE ... WHERE part = v` — is the
  * one mutation a lake engine must answer in O(manifest), zero data jobs:
  * Iceberg drops wholly-covered files from the snapshot and Delta rewrites
  * only the `remove` actions, because at 100 TB the alternative is a day
  * of rewrite jobs for a predicate the metadata already answers. The
  * reference's tables are exactly this kind (hourly CDC onto
  * Hudi/Iceberg/Delta COW tables, src/iceberg/iceberg-cdc-load.py:130-150),
  * so graft's connector needs the same property.
  *
  * Mechanism: Spark's `OptimizeMetadataOnlyDeleteFromTable` converts the
  * row-level DELETE plan back into a metadata call when the original table
  * implements `SupportsDeleteV2`, every condition conjunct translates to a
  * V2 predicate, and `canDeleteWhere` accepts. Acceptance here is a
  * THREE-VALUED evaluation of the conjunction per manifest file:
  *
  *   - `All`     — every live row of the file matches (SQL truth: NULL
  *                 predicate results do NOT match);
  *   - `No`      — no row matches;
  *   - `Unknown` — the metadata cannot decide.
  *
  * The delete is metadata-only iff NO file is `Unknown`: `All` files drop
  * from the manifest (their deletion-vector sidecar pointer drops with the
  * entry), `No` files carry unchanged. Any `Unknown` declines — Spark then
  * runs the ordinary row-level rewrite, so a decline is never wrong, only
  * slower. Evidence sources, all already in the manifest:
  *
  *   - hive partition-path values (identity partitioning): equality/IN and
  *     null checks are exact per file;
  *   - partition-TRANSFORM intervals (hidden partitioning): a `day(ts)`
  *     directory `2024-01-02` brackets its rows' `ts` inside
  *     [2024-01-02T00:00, 2024-01-03T00:00) — source-column ranges resolve
  *     exactly at partition boundaries (the day-aligned retention cut);
  *     bucket/truncate values refute equality (`No`) but never prove `All`;
  *   - per-file [min, max] key/statsColumns footer stats: containment
  *     proves `All` for non-null rows (VALID bounds suffice — containment
  *     needs `min <= rows <= max`, unlike an exact extremum, so string
  *     stats qualify too), disjointness proves `No`; `All` additionally
  *     demands a known-ZERO null count (stats are null-blind, and a NULL
  *     predicate result is a non-match);
  *   - per-file null counts: `IS [NOT] NULL` both ways.
  *
  * Deletion vectors compose conservatively: stats/null counts describe the
  * PHYSICAL file (a superset of its live rows), so `All`/`No` over physical
  * rows imply the same over live rows.
  */
private[sources] object MetadataDelete {

  sealed trait Tri
  case object All extends Tri
  case object No extends Tri
  case object Unknown extends Tri

  /** Files the conjunction provably deletes in full — `Some(dropSet)` iff
    * EVERY file is decisively `All` or `No`; `None` ⇒ not metadata-only. */
  def coveredFiles(
      m: CommitManifest, schema: StructType, filters: Seq[Filter])
      : Option[Seq[FileEntry]] = {
    val drop = Vector.newBuilder[FileEntry]
    m.files.foreach { e =>
      filters.map(evalFile(m, schema, e, _)).foldLeft(All: Tri) {
        case (No, _) | (_, No) => No
        case (All, t) => t
        case (Unknown, All) => Unknown
        case (Unknown, t) => t match { case No => No; case _ => Unknown }
      } match {
        case All => drop += e
        case No => ()
        case Unknown => return None
      }
    }
    Some(drop.result())
  }

  /** Three-valued SQL-truth evaluation of one filter over one file. */
  private def evalFile(
      m: CommitManifest, schema: StructType, e: FileEntry, f: Filter): Tri =
    f match {
      case And(l, r) =>
        (evalFile(m, schema, e, l), evalFile(m, schema, e, r)) match {
          case (No, _) | (_, No) => No
          case (All, All) => All
          case _ => Unknown
        }
      case Or(l, r) =>
        (evalFile(m, schema, e, l), evalFile(m, schema, e, r)) match {
          case (All, _) | (_, All) => All
          case (No, No) => No
          case _ => Unknown
        }
      // Kleene negation is unsound under SQL nulls (NOT NULL is NULL — a
      // non-match both ways), except for the null checks themselves, which
      // are two-valued. Everything else declines.
      case Not(IsNull(c)) => evalFile(m, schema, e, IsNotNull(c))
      case Not(IsNotNull(c)) => evalFile(m, schema, e, IsNull(c))
      case Not(_) => Unknown
      case AlwaysTrue() => All
      case AlwaysFalse() => No
      case IsNull(c) => nullCheck(m, schema, e, c, isNull = true)
      case IsNotNull(c) => nullCheck(m, schema, e, c, isNull = false)
      case EqualNullSafe(c, null) => nullCheck(m, schema, e, c, isNull = true)
      // <=> with a non-null literal matches exactly the rows = would (a
      // null row matches neither), so the = evaluation carries over
      case EqualNullSafe(c, v) => evalFile(m, schema, e, EqualTo(c, v))
      case EqualTo(_, null) => No // `c = NULL` matches nothing
      case cmpF @ (EqualTo(_, _) | GreaterThan(_, _) |
                   GreaterThanOrEqual(_, _) | LessThan(_, _) |
                   LessThanOrEqual(_, _)) =>
        val (c, v, op) = cmpF match {
          case EqualTo(c0, v0) => (c0, v0, "=")
          case GreaterThan(c0, v0) => (c0, v0, ">")
          case GreaterThanOrEqual(c0, v0) => (c0, v0, ">=")
          case LessThan(c0, v0) => (c0, v0, "<")
          case LessThanOrEqual(c0, v0) => (c0, v0, "<=")
          case _ => return Unknown
        }
        if (v == null) No
        else firstDecisive(
          partitionEval(m, e, c, op, Seq(v)),
          transformEval(m, schema, e, c, op, v),
          statsEval(m, schema, e, c, op, Seq(v)))
      case In(c, vs0) if vs0 != null =>
        val vs = vs0.toSeq.filter(_ != null) // NULL literals match nothing
        if (vs.isEmpty) No
        else firstDecisive(
          partitionEval(m, e, c, "in", vs),
          inTransformEval(m, schema, e, c, vs),
          statsEval(m, schema, e, c, "in", vs))
      case _ => Unknown
    }

  private def firstDecisive(ts: Tri*): Tri =
    ts.find(_ != Unknown).getOrElse(Unknown)

  /** Schema field for `c` (case-insensitive), or None. */
  private def field(schema: StructType, c: String) =
    schema.fields.find(_.name.equalsIgnoreCase(c))

  // ---- hive partition-path evidence (identity partitioning) -------------

  /** Equality/IN on the hive partition column, answered by the file's
    * path-borne value. Exact both ways when the value renders
    * unambiguously; pathless files (old layout after spec evolution) and
    * unrenderable types stay Unknown. */
  private def partitionEval(
      m: CommitManifest, e: FileEntry, c: String, op: String,
      vs: Seq[Any]): Tri = {
    val pk = m.partitionKey.getOrElse(return Unknown)
    if (!pk.equalsIgnoreCase(c)) return Unknown
    if (op != "=" && op != "in") return Unknown
    val pv = GraftScan.pathPartValue(m.partitionKey, e).getOrElse(
      return Unknown)
    if (pv == GraftScan.NullPartitionName) return No // null ≠ any literal
    if (!vs.forall(GraftScan.pathRenderableValue)) return Unknown
    if (vs.map(String.valueOf(_: Any)).contains(pv)) All else No
  }

  /** Null checks: partition-path value first (exact, any type), per-file
    * footer null counts second. Both describe physical rows — a superset
    * of live rows, so the implication holds under deletion vectors. */
  private def nullCheck(
      m: CommitManifest, schema: StructType, e: FileEntry, c: String,
      isNull: Boolean): Tri = {
    val byPath: Tri =
      if (m.partitionKey.exists(_.equalsIgnoreCase(c)))
        GraftScan.pathPartValue(m.partitionKey, e) match {
          case Some(GraftScan.NullPartitionName) => if (isNull) All else No
          case Some(_) => if (isNull) No else All
          case None => Unknown
        }
      // the transform SOURCE column: a non-null partition value proves the
      // source non-null per row; the null dir holds exactly the null rows.
      // Era-aware: a retired era's path key answers for its own files.
      else firstDecisive(erasOf(m).filter(_.source.equalsIgnoreCase(c))
        .map { t =>
          GraftScan.pathPartValue(Some(t.name), e) match {
            case Some(GraftScan.NullPartitionName) =>
              if (isNull) All else No
            case Some(_) => if (isNull) No else All
            case None => Unknown
          }
        }: _*)
    if (byPath != Unknown) return byPath
    val phys = m.physicalName(field(schema, c).map(_.name).getOrElse(c))
    e.nulls.get(phys) match {
      case Some(n) if isNull =>
        if (n == e.rows) All else if (n == 0L) No else Unknown
      case Some(n) =>
        if (n == 0L) All else if (n == e.rows) No else Unknown
      case None => Unknown
    }
  }

  // ---- partition-transform evidence (hidden partitioning) ---------------

  private def transformOf(m: CommitManifest): Option[PartitionTransform] =
    m.partitionSpec.flatMap(s =>
      scala.util.Try(PartitionTransform.parse(s)).toOption)

  /** Every era's transform — the CURRENT spec plus RETIRED ones
    * (partition-spec evolution). A file carries exactly ONE era's key in
    * its path (the era it was written under), so per-file evaluation
    * tries each era's own path key: a day(ts)-era file still proves a
    * day-aligned retention cut after the table evolved to hour(ts). */
  private def erasOf(m: CommitManifest): Seq[PartitionTransform] =
    (m.partitionSpec.toSeq ++ m.priorSpecs).distinct
      .flatMap(s => scala.util.Try(PartitionTransform.parse(s)).toOption)

  /** The INCLUSIVE integer interval (micros or epoch-days, matching the
    * source column's stat space) a day/month/hour/year partition value
    * brackets its rows inside — `None` for other transforms /
    * unparseable paths. */
  private[sources] def sourceInterval(
      t: PartitionTransform, srcType: DataType, pv: String)
      : Option[(Long, Long)] = {
    // hour brackets sub-day: a LocalDateTime range (others are day-aligned)
    def dtRange: Option[(java.time.LocalDateTime, java.time.LocalDateTime)] =
      t.kind match {
        case "day" =>
          scala.util.Try(java.time.LocalDate.parse(pv)).toOption
            .map(d => (d.atStartOfDay, d.plusDays(1).atStartOfDay))
        case "month" =>
          scala.util.Try(java.time.YearMonth.parse(pv)).toOption
            .map(ym => (ym.atDay(1).atStartOfDay,
              ym.plusMonths(1).atDay(1).atStartOfDay))
        case "hour" =>
          scala.util.Try {
            require(pv.length == 13 && pv.charAt(10) == '-')
            val h = pv.substring(11, 13).toInt
            require(h >= 0 && h < 24)
            val dt = java.time.LocalDate.parse(pv.substring(0, 10))
              .atStartOfDay.plusHours(h)
            (dt, dt.plusHours(1))
          }.toOption
        case "year" =>
          scala.util.Try(java.time.Year.parse(pv)).toOption
            .map(y => (y.atDay(1).atStartOfDay,
              y.plusYears(1).atDay(1).atStartOfDay))
        case _ => None
      }
    dtRange.flatMap { case (lo, hiEx) =>
      def micros(dt: java.time.LocalDateTime): Long =
        dt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
      srcType match {
        // timestamp stats are epoch micros; NTZ stats are wall-clock micros
        // "as if UTC" — the same arithmetic either way (the transform replay
        // is UTC-fixed, mirroring GraftScanBuilder.transformedPathValue)
        case TimestampType | TimestampNTZType =>
          Some((micros(lo), micros(hiEx) - 1L))
        case DateType if t.kind != "hour" =>
          Some((lo.toLocalDate.toEpochDay, hiEx.toLocalDate.toEpochDay - 1L))
        case _ => None
      }
    }
  }

  /** Range/equality on the hidden-partitioning SOURCE column, resolved
    * against the partition's bracketing interval. Exact at partition
    * boundaries — the day-aligned retention cut decides every file. For
    * non-interval transforms (bucket/truncate), equality can refute
    * (`No` when the transformed literal names another partition) but
    * never prove `All`. RETIRED eras answer for their own files: each
    * era's transform evaluates against that era's path key, so a delete
    * aligned to an OLD era's boundaries stays metadata-only after the
    * spec evolved. */
  private def transformEval(
      m: CommitManifest, schema: StructType, e: FileEntry, c: String,
      op: String, v: Any): Tri =
    firstDecisive(erasOf(m).map(eraEval(m, schema, e, c, op, v, _)): _*)

  private def eraEval(
      m: CommitManifest, schema: StructType, e: FileEntry, c: String,
      op: String, v: Any, t: PartitionTransform): Tri = {
    if (!t.source.equalsIgnoreCase(c)) return Unknown
    val pv = GraftScan.pathPartValue(Some(t.name), e).getOrElse(
      return Unknown)
    // the null dir holds exactly the source-null rows: no comparison matches
    if (pv == GraftScan.NullPartitionName) return No
    val srcType = field(schema, t.source).map(_.dataType).getOrElse(
      return Unknown)
    sourceInterval(t, srcType, pv) match {
      case Some((lo, hi)) =>
        val x = scala.util.Try(
          BigDecimal(CowTable.statValueString(v))).toOption.getOrElse(
          return Unknown)
        val (blo, bhi) = (BigDecimal(lo), BigDecimal(hi))
        op match {
          case "<" => if (bhi < x) All else if (blo >= x) No else Unknown
          case "<=" => if (bhi <= x) All else if (blo > x) No else Unknown
          case ">" => if (blo > x) All else if (bhi <= x) No else Unknown
          case ">=" => if (blo >= x) All else if (bhi < x) No else Unknown
          case "=" =>
            if (x < blo || x > bhi) No
            else if (blo == bhi && x == blo) All
            else Unknown
          case _ => Unknown
        }
      case None if op == "=" => // bucket/truncate: refutation only
        GraftScanBuilder.literalPathValue(t, v) match {
          case Some(tv) => if (tv != pv) No else Unknown
          case None => Unknown
        }
      case None => Unknown
    }
  }

  private def inTransformEval(
      m: CommitManifest, schema: StructType, e: FileEntry, c: String,
      vs: Seq[Any]): Tri = {
    // IN = disjunction of equalities: All if any value covers the whole
    // interval, No if every value is refuted
    val per = vs.map(transformEval(m, schema, e, c, "=", _))
    if (per.contains(All)) All
    else if (per.forall(_ == No)) No
    else Unknown
  }

  // ---- per-file [min, max] footer-stat evidence --------------------------

  /** The file's stat range for `c` in stat-string space, with its numeric
    * flag: leading/second key columns from the entry's key bounds,
    * statsColumns from `extra`. */
  private def statRange(
      m: CommitManifest, schema: StructType, e: FileEntry, c: String)
      : Option[(ColRange, Boolean)] = {
    val name = field(schema, c).map(_.name).getOrElse(c)
    def numericType: Boolean =
      field(schema, c).map(_.dataType).exists {
        case _: org.apache.spark.sql.types.NumericType => true
        case TimestampType | TimestampNTZType | DateType => true
        case _ => false
      }
    if (m.primaryKey.headOption.contains(name))
      Some((ColRange(e.minKey, e.maxKey), m.keyNumeric))
    else if (m.primaryKey.drop(1).headOption.contains(name))
      Some((ColRange(e.minKey2, e.maxKey2), m.key2Numeric))
    else e.extra.get(m.physicalName(name)).map((_, numericType))
  }

  /** Strictness-exact containment/disjointness against the file's
    * [min, max]. VALID bounds suffice for both directions (min ≤ every
    * row ≤ max), so string stats qualify; `All` additionally requires a
    * known-zero null count (a NULL comparison is a non-match). */
  private def statsEval(
      m: CommitManifest, schema: StructType, e: FileEntry, c: String,
      op: String, vs: Seq[Any]): Tri = {
    val (range, numeric) = statRange(m, schema, e, c).getOrElse(
      return Unknown)
    val (mnS, mxS) = (range.mn, range.mx) match {
      case (Some(a), Some(b)) => (a, b)
      case _ => return Unknown
    }
    val vStrs =
      scala.util.Try(vs.map(v => CowTable.statValueString(v))).toOption
        .getOrElse(return Unknown)
    // every side needs a stat-space position (a NaN or corrupt stat keeps
    // Unknown)
    if ((vStrs :+ mnS :+ mxS).exists(KeyPrune.position(_, numeric).isEmpty))
      return Unknown
    def cmp(a: String, b: String): Int = KeyPrune.compare(a, b, numeric).get
    val phys = m.physicalName(field(schema, c).map(_.name).getOrElse(c))
    val nullFree = e.nulls.get(phys).contains(0L)
    def all(cond: Boolean): Tri = if (cond && nullFree) All else Unknown
    op match {
      case "<" =>
        val v = vStrs.head
        if (cmp(mnS, v) >= 0) No else all(cmp(mxS, v) < 0)
      case "<=" =>
        val v = vStrs.head
        if (cmp(mnS, v) > 0) No else all(cmp(mxS, v) <= 0)
      case ">" =>
        val v = vStrs.head
        if (cmp(mxS, v) <= 0) No else all(cmp(mnS, v) > 0)
      case ">=" =>
        val v = vStrs.head
        if (cmp(mxS, v) < 0) No else all(cmp(mnS, v) >= 0)
      case "=" =>
        val v = vStrs.head
        if (cmp(v, mnS) < 0 || cmp(v, mxS) > 0) No
        else all(cmp(mnS, mxS) == 0 && cmp(v, mnS) == 0)
      case "in" =>
        if (vStrs.forall(v => cmp(v, mnS) < 0 || cmp(v, mxS) > 0)) No
        else all(cmp(mnS, mxS) == 0 && vStrs.exists(cmp(_, mnS) == 0))
      case _ => Unknown
    }
  }
}
