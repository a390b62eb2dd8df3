package graft.sources

import scala.util.Try

import graft.storage.{CkptPred, ColRange, CommitManifest, CowTable, FileEntry, KeyPrune, PartitionTransform, StatOrd}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, DateType, NumericType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** THE per-file predicate evaluator: one compiled conjunction of pushed
  * `Filter`s answers, for each manifest file, whether its rows can match —
  * from metadata alone, zero data IO. Every consumer asks the same
  * question, so there is one answer:
  *
  *   - `No`      — no live row of the file matches (SQL truth: a NULL
  *                 predicate result is a non-match);
  *   - `All`     — every live row matches;
  *   - `Unknown` — the metadata cannot decide.
  *
  * The batch scan ([[GraftScan]]) and the micro-batch stream drop `No`
  * files; a metadata-only DELETE ([[MetadataDelete]]) accepts only when
  * every file answers `All` or `No`; the checkpoint row-group predicate
  * ([[ckptPred]]) is derived from the same conjuncts. This is the split
  * Iceberg makes between its inclusive (`No` ⇒ skip) and strict (`All` ⇒
  * drop) metrics evaluators, folded into one three-valued walk.
  *
  * Evidence, all already in the manifest (per comparison, any decisive
  * source wins; `No` before `All`):
  *
  *   - hive partition-path values (identity partitioning): equality/IN and
  *     null checks are exact per file; the null directory matches no
  *     literal;
  *   - partition-TRANSFORM path values, for the current spec and every
  *     retired one (a file carries exactly one era's key): day/month/
  *     hour/year directories bracket their rows' source values in an
  *     interval, so ranges and equality resolve exactly at partition
  *     boundaries; bucket/truncate values refute equality/IN; truncate on
  *     a STRING source also bounds ranges in UTF-8 byte order (Spark's
  *     string order — numeric truncate paths are decimal strings whose
  *     lexical order is not numeric order, so they never bound ranges);
  *   - per-file [min, max] stats of the key columns and
  *     [[graft.storage.TableConfig.statsColumns]], compared through
  *     [[KeyPrune.compare]]'s stat space: disjointness proves `No`
  *     (strict bounds stay strict), containment proves `All` when the
  *     null count is known zero (stats are null-blind); a literal or
  *     stat without a stat-space position (NaN, ±Infinity) decides
  *     nothing;
  *   - per-file null counts: `IS [NOT] NULL` both ways.
  *
  * Deletion vectors compose conservatively: stats and null counts
  * describe the PHYSICAL file, a superset of its live rows. Kleene AND/OR
  * combine sub-answers; `NOT` is decided only around the two-valued null
  * checks. */
private[graft] final class FilePredicate private (
    m: CommitManifest, schema: StructType, conjuncts: Seq[Filter]) {
  import FilePredicate._

  private val partKey: Option[String] = m.partitionKey
  private val keyCol: Option[String] = m.primaryKey.headOption
  private val current: Option[PartitionTransform] =
    m.partitionSpec.flatMap(parseSpec)
  private val priors: Seq[PartitionTransform] = m.priorSpecs.flatMap(parseSpec)
  private val eras: Seq[PartitionTransform] = (current.toSeq ++ priors).distinct

  private def field(c: String) = schema.fields.find(_.name.equalsIgnoreCase(c))
  private def nameOf(c: String): String = field(c).map(_.name).getOrElse(c)
  private def typeOf(c: String): Option[DataType] = field(c).map(_.dataType)

  /** A truncated EMPTY string renders the hive null directory, so for a
    * truncate over a STRING source that directory holds "" rows beside
    * the null ones. */
  private def emptyInNullDir(t: PartitionTransform): Boolean =
    t.kind == "truncate" && typeOf(t.source).contains(StringType)

  /** The file's identity-partition path value under the compiled
    * manifest's partition key (None = pathless file). */
  private[sources] def partitionValue(e: FileEntry): Option[String] =
    GraftScan.pathPartValue(partKey, e)

  // ---- evaluation ----------------------------------------------------

  private val compiled: Seq[FileEntry => Tri] = conjuncts.map(compile)

  def eval(e: FileEntry): Tri = {
    var acc: Tri = All
    val it = compiled.iterator
    while (acc != No && it.hasNext) acc = and(acc, it.next()(e))
    acc
  }

  def keeps(e: FileEntry): Boolean = eval(e) != No

  private def compile(f: Filter): FileEntry => Tri = f match {
    case And(l, r) =>
      val (a, b) = (compile(l), compile(r))
      e => { val x = a(e); if (x == No) No else and(x, b(e)) }
    case Or(l, r) =>
      val (a, b) = (compile(l), compile(r))
      e => { val x = a(e); if (x == All) All else or(x, b(e)) }
    // Kleene negation is unsound under SQL nulls (NOT NULL is NULL — a
    // non-match both ways), except for the two-valued null checks
    case Not(IsNull(c)) => nullTest(c, isNull = false)
    case Not(IsNotNull(c)) => nullTest(c, isNull = true)
    case AlwaysTrue() => _ => All
    case AlwaysFalse() => _ => No
    case IsNull(c) => nullTest(c, isNull = true)
    case IsNotNull(c) => nullTest(c, isNull = false)
    case EqualNullSafe(c, null) => nullTest(c, isNull = true)
    // <=> with a non-null literal matches exactly the rows = would
    case EqualNullSafe(c, v) => compare(c, "=", Seq(v))
    case In(c, vs) if vs != null =>
      val nonNull = vs.toSeq.filter(_ != null) // NULL literals match nothing
      if (nonNull.isEmpty) _ => No else compare(c, "in", nonNull)
    case _ => comparison(f) match {
      case Some((_, _, null)) => _ => No // `c = NULL` matches nothing
      case Some((c, op, v)) => compare(c, op, Seq(v))
      case None => _ => Unknown
    }
  }

  private def compare(c: String, op: String, vs: Seq[Any]): FileEntry => Tri = {
    val name = nameOf(c)
    val evidence = (pathEvidence(name, op, vs).toSeq ++
      eras.filter(_.source.equalsIgnoreCase(name))
        .flatMap(eraEvidence(_, op, vs)) ++
      statsEvidence(name, op, vs)).toVector
    if (evidence.isEmpty) _ => Unknown else decide(evidence, _)
  }

  /** Equality/IN on the identity partition column, by the path value. */
  private def pathEvidence(name: String, op: String, vs: Seq[Any])
      : Option[FileEntry => Tri] =
    if (!partKey.exists(_.equalsIgnoreCase(name)) || (op != "=" && op != "in"))
      None
    else {
      val set =
        if (vs.forall(GraftScan.pathRenderableValue))
          Some(vs.map(v => String.valueOf(v)).toSet)
        else None // a rendering mismatch must never skip a file
      Some(e => partitionValue(e) match {
        case None => Unknown // pathless file (old layout)
        case Some(NullDir) => No // null ≠ any literal
        case Some(pv) => set.fold(Unknown: Tri)(s => if (s(pv)) All else No)
      })
    }

  /** Comparison on a transform's SOURCE column, answered by the file's
    * path value under that era's generated column. */
  private def eraEvidence(t: PartitionTransform, op: String, vs: Seq[Any])
      : Option[FileEntry => Tri] = {
    val srcType = typeOf(t.source).getOrElse(return None)
    val paths = vs.map(literalPathValue(t, _))
    val stats =
      vs.map(v => Try(BigDecimal(CowTable.statValueString(v))).toOption)
    val ordered = t.orderPreserving(srcType)
    Some(e => GraftScan.pathPartValue(Some(t.name), e) match {
      case None => Unknown // not this era
      case Some(NullDir) if emptyInNullDir(t) =>
        // rows are NULL (never match) or "": only the "" rows can
        perIndex(op, vs.size, (o, i) => vs(i) match {
          case s: String => if (holdsForEmpty(o, s)) Unknown else No
          case _ => Unknown
        })
      case Some(NullDir) => No // exactly the source-NULL rows
      case Some(pv) => sourceInterval(t, srcType, pv) match {
        case Some((lo, hi)) =>
          perIndex(op, vs.size, (o, i) => stats(i).fold(Unknown: Tri)(
            intervalCmp(o, _, BigDecimal(lo), BigDecimal(hi))))
        case None => perIndex(op, vs.size, (o, i) => paths(i) match {
          case Some(tv) if o == "=" => if (tv != pv) No else Unknown
          case Some(tv) if ordered => prefixCmp(o, pv, tv)
          case _ => Unknown
        })
      }
    })
  }

  /** Per-file [min, max] of the key columns or a statsColumns column. */
  private def statsEvidence(name: String, op: String, vs: Seq[Any])
      : Option[FileEntry => Tri] = {
    val phys = m.physicalName(name)
    val (range, numeric): (FileEntry => Option[ColRange], Boolean) =
      if (keyCol.contains(name))
        (e => Some(ColRange(e.minKey, e.maxKey)), m.keyNumeric)
      else if (m.primaryKey.lift(1).contains(name))
        (e => Some(ColRange(e.minKey2, e.maxKey2)), m.key2Numeric)
      else (_.extra.get(phys), typeOf(name).exists(numericStat))
    val lits = vs.map(v => Try(CowTable.statValueString(v)).toOption
      .flatMap(KeyPrune.position(_, numeric)))
    if (lits.exists(_.isEmpty)) return None // e.g. a NaN literal
    val ps = lits.flatten
    Some(e => range(e) match {
      case Some(ColRange(Some(a), Some(b))) =>
        (KeyPrune.position(a, numeric), KeyPrune.position(b, numeric)) match {
          case (Some(mn), Some(mx)) =>
            statCmp(op, ps, mn, mx, e.nulls.get(phys).contains(0L))
          case _ => Unknown
        }
      case _ => Unknown
    })
  }

  /** `IS [NOT] NULL`: partition paths first (exact), null counts second. */
  private def nullTest(c: String, isNull: Boolean): FileEntry => Tri = {
    val name = nameOf(c)
    def byPath(key: String, ambiguousNullDir: Boolean): FileEntry => Tri =
      e => GraftScan.pathPartValue(Some(key), e) match {
        case Some(NullDir) =>
          if (ambiguousNullDir) Unknown else if (isNull) All else No
        case Some(_) => if (isNull) No else All
        case None => Unknown
      }
    val paths =
      partKey.filter(_.equalsIgnoreCase(name)).map(byPath(_, false)).toSeq ++
        eras.filter(_.source.equalsIgnoreCase(name))
          .map(t => byPath(t.name, emptyInNullDir(t)))
    val phys = m.physicalName(name)
    val byCount: FileEntry => Tri = e => e.nulls.get(phys) match {
      case Some(n) if isNull =>
        if (n == e.rows) All else if (n == 0L) No else Unknown
      case Some(n) => if (n == 0L) All else if (n == e.rows) No else Unknown
      case None => Unknown
    }
    decide((paths :+ byCount).toVector, _)
  }

  // ---- the per-family view: description counters, pushedFilters, and
  // the checkpoint row-group predicate --------------------------------

  private val leaves: Seq[Filter] = {
    def flat(f: Filter): Seq[Filter] = f match {
      case And(l, r) => flat(l) ++ flat(r)
      case other => Seq(other)
    }
    conjuncts.flatMap(flat)
  }

  private val keyLeaves: Seq[Filter] =
    leaves.filter(comparison(_).exists(c => keyCol.contains(c._1)))

  private val partSets: Seq[(Filter, Set[String])] =
    partKey.toSeq.flatMap(p => leaves.collect {
      case f @ EqualTo(`p`, v)
        if v != null && GraftScan.pathRenderableValue(v) =>
        (f, Set(String.valueOf(v)))
      case f @ In(`p`, vs) if vs != null && vs.nonEmpty &&
        vs.forall(v => v != null && GraftScan.pathRenderableValue(v)) =>
        (f, vs.map(v => String.valueOf(v)).toSet)
    })

  private val statLeaves: Seq[Filter] = {
    lazy val statted: Set[String] = m.stattedPhys
      .getOrElse(m.files.flatMap(_.extra.keys).distinct).toSet
    leaves.filter(comparison(_).exists { case (c, _, v) =>
      !keyCol.contains(c) && v != null && statted(m.physicalName(c))
    })
  }

  private val notNullPart: Seq[Filter] =
    partKey.toSeq.flatMap(p => leaves.collect { case f @ IsNotNull(`p`) => f })

  private def derive(t: PartitionTransform): Derived = {
    val ordered = typeOf(t.source).exists(t.orderPreserving)
    val src = t.source
    var d = Derived(Nil, None, Nil, Nil)
    def eq(f: Filter, set: Set[String]): Unit =
      d = d.copy(used = d.used :+ f, eq = Some(d.eq.fold(set)(_ intersect set)))
    leaves.foreach {
      case f @ EqualTo(`src`, v) if v != null =>
        literalPathValue(t, v).foreach(pv => eq(f, Set(pv)))
      case f @ In(`src`, vs)
        if vs != null && vs.nonEmpty && !vs.contains(null) =>
        val pvs = vs.toSeq.map(literalPathValue(t, _))
        if (pvs.forall(_.isDefined)) eq(f, pvs.flatten.toSet)
      case f if ordered => comparison(f) match {
        case Some((`src`, ">" | ">=", v)) if v != null =>
          literalPathValue(t, v).foreach(pv =>
            d = d.copy(used = d.used :+ f, lo = d.lo :+ pv))
        case Some((`src`, "<" | "<=", v)) if v != null =>
          literalPathValue(t, v).foreach(pv =>
            d = d.copy(used = d.used :+ f, hi = d.hi :+ pv))
        case _ => ()
      }
      case _ => ()
    }
    d
  }

  private lazy val currentDerived: Option[Derived] = current.map(derive)

  /** The manifest-usable filters, for the scan's `pushedFilters()`. */
  lazy val pushed: Seq[Filter] = (keyLeaves ++ partSets.map(_._1) ++
    statLeaves ++ notNullPart ++ currentDerived.toSeq.flatMap(_.used)).distinct

  /** A top-level filter the path values answer EXACTLY on pathed files —
    * the scan's partition-filter consumption rule. */
  def pathExact(f: Filter): Boolean =
    partSets.exists(_._1 eq f) || notNullPart.exists(_ eq f)

  // description() counters — the per-family text explain() has always shown
  def keyRangeFilters: Int = keyLeaves.size
  def partitionFilterValues: Int =
    (partSets.map(_._2) ++ currentDerived.flatMap(_.eq))
      .reduceOption(_ intersect _).fold(0)(_.size)
  def statsColFilters: Int = statLeaves.size
  def nullFilters: Int = leaves.count {
    case IsNull(_) | IsNotNull(_) => true
    case _ => false
  }
  def priorEraFilters: Int = priors.count(derive(_).nonEmpty)

  /** The checkpoint row-group predicate (see [[CkptPred]]): a superset of
    * what [[eval]] keeps — every skipped block's entries answer `No`.
    * Range bounds participate only when pure ASCII; unencodable key
    * values degrade to no constraint. */
  lazy val ckptPred: CkptPred = {
    val nullDirRows = current.exists(emptyInNullDir)
    // a derived set or bound that a "" row (null directory) could satisfy
    // must not drop the all-sentinel blocks
    val curEq = currentDerived.flatMap(_.eq)
      .filterNot(s => nullDirRows && s.contains(""))
    def bytes(a: String, b: String) =
      StatOrd.byteCompare(StatOrd.bytes(a), StatOrd.bytes(b))
    def lo(xs: Seq[String]) =
      xs.reduceOption((a, b) => if (bytes(a, b) >= 0) a else b)
    def hi(xs: Seq[String]) =
      xs.reduceOption((a, b) => if (bytes(a, b) <= 0) a else b)
    def keyOrds(ops: Set[String]) = keyLeaves.flatMap(comparison).collect {
      case (_, op, v) if ops(op) && v != null => v
    }.flatMap(v => Try(CowTable.statValueString(v)).toOption)
      .flatMap(StatOrd.encodeKey(_, m.keyNumeric)).filter(StatOrd.isAscii)
    CkptPred(
      partIn = (partSets.map(_._2) ++ curEq).reduceOption(_ intersect _),
      partLo = lo(currentDerived.toSeq.flatMap(_.lo)
        .filter(s => s.nonEmpty && StatOrd.isAscii(s))),
      partHi = if (nullDirRows) None
        else hi(currentDerived.toSeq.flatMap(_.hi).filter(StatOrd.isAscii)),
      dropNullPart = notNullPart.nonEmpty,
      keyLoOrd = lo(keyOrds(Set("=", ">", ">="))),
      keyHiOrd = hi(keyOrds(Set("=", "<", "<="))))
  }
}

private[graft] object FilePredicate {

  sealed trait Tri
  case object All extends Tri
  case object No extends Tri
  case object Unknown extends Tri

  /** Compile `conjuncts` (their conjunction) against a manifest's header
    * (keys, partition specs, stats summary) and the table schema. */
  def apply(m: CommitManifest, schema: StructType, conjuncts: Seq[Filter])
      : FilePredicate = new FilePredicate(m, schema, conjuncts)

  private val NullDir: String = CowTable.NullPartitionName

  /** What a transform's path key can take from source-column leaves. */
  private final case class Derived(used: Seq[Filter],
      eq: Option[Set[String]], lo: Seq[String], hi: Seq[String]) {
    def nonEmpty: Boolean = eq.isDefined || lo.nonEmpty || hi.nonEmpty
  }

  private def and(a: Tri, b: Tri): Tri = (a, b) match {
    case (No, _) | (_, No) => No
    case (All, All) => All
    case _ => Unknown
  }

  private def or(a: Tri, b: Tri): Tri = (a, b) match {
    case (All, _) | (_, All) => All
    case (No, No) => No
    case _ => Unknown
  }

  /** Independent sound evidences of one comparison: any `No` decides,
    * else any `All`. */
  private def decide(evidence: Vector[FileEntry => Tri], e: FileEntry): Tri = {
    var all = false
    val it = evidence.iterator
    while (it.hasNext) it.next()(e) match {
      case No => return No
      case All => all = true
      case Unknown => ()
    }
    if (all) All else Unknown
  }

  /** `op` over one literal, or IN as the disjunction of equalities. */
  private def perIndex(op: String, n: Int, one: (String, Int) => Tri): Tri =
    if (op != "in") one(op, 0)
    else {
      val ts = (0 until n).map(one("=", _))
      if (ts.contains(All)) All else if (ts.forall(_ == No)) No else Unknown
    }

  private def parseSpec(s: String): Option[PartitionTransform] =
    Try(PartitionTransform.parse(s)).toOption

  private def comparison(f: Filter): Option[(String, String, Any)] = f match {
    case EqualTo(c, v) => Some((c, "=", v))
    case GreaterThan(c, v) => Some((c, ">", v))
    case GreaterThanOrEqual(c, v) => Some((c, ">=", v))
    case LessThan(c, v) => Some((c, "<", v))
    case LessThanOrEqual(c, v) => Some((c, "<=", v))
    case _ => None
  }

  private[sources] def numericStat(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    // NTZ stats live in wall-clock-micros space — numeric, never lexical
    case TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }

  /** Can a row `x` with `x op s` sit in the null directory's "" rows? */
  private def holdsForEmpty(op: String, s: String): Boolean = op match {
    case "=" | ">=" => s.isEmpty
    case ">" => false
    case "<" => s.nonEmpty
    case _ => true // "<="
  }

  /** A source-range predicate against an ordered (string-truncate) path
    * value `pv`, the literal's own truncation being `tv`. Truncation is
    * monotone in UTF-8 byte order, and a strictly greater (smaller)
    * prefix proves every row greater (smaller) than the literal. */
  private def prefixCmp(op: String, pv: String, tv: String): Tri = {
    val c = UTF8String.fromString(pv).compareTo(UTF8String.fromString(tv))
    op match {
      case ">" | ">=" => if (c < 0) No else if (c > 0) All else Unknown
      case "<" | "<=" => if (c > 0) No else if (c < 0) All else Unknown
      case _ => Unknown
    }
  }

  /** `x op lit` for every x in the inclusive interval [lo, hi]. */
  private def intervalCmp(op: String, x: BigDecimal, lo: BigDecimal,
      hi: BigDecimal): Tri = op match {
    case "<" => if (hi < x) All else if (lo >= x) No else Unknown
    case "<=" => if (hi <= x) All else if (lo > x) No else Unknown
    case ">" => if (lo > x) All else if (hi <= x) No else Unknown
    case ">=" => if (lo >= x) All else if (hi < x) No else Unknown
    case "=" =>
      if (x < lo || x > hi) No else if (lo == hi && x == lo) All else Unknown
    case _ => Unknown
  }

  /** Containment/disjointness of literal positions against [mn, mx];
    * `All` also needs a known-zero null count. */
  private def statCmp(op: String, vs: Seq[KeyPrune.Position],
      mn: KeyPrune.Position, mx: KeyPrune.Position, nullFree: Boolean): Tri = {
    def all(cond: Boolean): Tri = if (cond && nullFree) All else Unknown
    def outside(v: KeyPrune.Position) =
      v.compareTo(mn) < 0 || v.compareTo(mx) > 0
    val v = vs.head
    op match {
      case "<" => if (mn.compareTo(v) >= 0) No else all(mx.compareTo(v) < 0)
      case "<=" => if (mn.compareTo(v) > 0) No else all(mx.compareTo(v) <= 0)
      case ">" => if (mx.compareTo(v) <= 0) No else all(mn.compareTo(v) > 0)
      case ">=" => if (mx.compareTo(v) < 0) No else all(mn.compareTo(v) >= 0)
      case "=" =>
        if (outside(v)) No
        else all(mn.compareTo(mx) == 0 && v.compareTo(mn) == 0)
      case "in" =>
        if (vs.forall(outside)) No
        else all(mn.compareTo(mx) == 0 && vs.exists(_.compareTo(mn) == 0))
      case _ => Unknown
    }
  }

  /** The INCLUSIVE integer interval (micros or epoch-days, matching the
    * source column's stat space) a day/month/hour/year partition value
    * brackets its rows inside — None for other transforms / source types
    * / unparseable paths. */
  private[sources] def sourceInterval(
      t: PartitionTransform, srcType: DataType, pv: String)
      : Option[(Long, Long)] = {
    // hour brackets sub-day: a LocalDateTime range (others are day-aligned)
    def dtRange: Option[(java.time.LocalDateTime, java.time.LocalDateTime)] =
      t.kind match {
        case "day" =>
          Try(java.time.LocalDate.parse(pv)).toOption
            .map(d => (d.atStartOfDay, d.plusDays(1).atStartOfDay))
        case "month" =>
          Try(java.time.YearMonth.parse(pv)).toOption
            .map(ym => (ym.atDay(1).atStartOfDay,
              ym.plusMonths(1).atDay(1).atStartOfDay))
        case "hour" =>
          Try {
            require(pv.length == 13 && pv.charAt(10) == '-')
            val h = pv.substring(11, 13).toInt
            require(h >= 0 && h < 24)
            val dt = java.time.LocalDate.parse(pv.substring(0, 10))
              .atStartOfDay.plusHours(h)
            (dt, dt.plusHours(1))
          }.toOption
        case "year" =>
          Try(java.time.Year.parse(pv)).toOption
            .map(y => (y.atDay(1).atStartOfDay,
              y.plusYears(1).atDay(1).atStartOfDay))
        case _ => None
      }
    dtRange.flatMap { case (lo, hiEx) =>
      def micros(dt: java.time.LocalDateTime): Long =
        dt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
      srcType match {
        // timestamp stats are epoch micros; NTZ stats are wall-clock micros
        // "as if UTC" — the same arithmetic either way (the transform
        // replay is UTC-fixed, mirroring [[literalPathValue]])
        case TimestampType | TimestampNTZType =>
          Some((micros(lo), micros(hiEx) - 1L))
        case DateType =>
          Some((lo.toLocalDate.toEpochDay,
            hiEx.minusNanos(1L).toLocalDate.toEpochDay))
        case _ => None
      }
    }
  }

  /** Planning-time replay of a partition transform on a literal — the exact
    * string the partition directory renders for that source value. None =
    * the runtime type isn't safely mappable (then it never prunes). */
  private[sources] def literalPathValue(
      t: PartitionTransform, v: Any): Option[String] = {
    def utcDateTime(x: Any): Option[java.time.LocalDateTime] = x match {
      case ts: java.sql.Timestamp =>
        Some(ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime)
      case ldt: java.time.LocalDateTime => Some(ldt)
      case i: java.time.Instant =>
        Some(i.atZone(java.time.ZoneOffset.UTC).toLocalDateTime)
      case d: java.sql.Date => Some(d.toLocalDate.atStartOfDay)
      case ld: java.time.LocalDate => Some(ld.atStartOfDay)
      case _ => None
    }
    def utcDate(x: Any) = utcDateTime(x).map(_.toLocalDate)
    def str(x: Any): Option[String] = x match {
      case s: String => Some(s)
      case u: UTF8String => Some(u.toString)
      case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
           _: java.lang.Byte => Some(String.valueOf(x))
      case _ => None
    }
    t.kind match {
      case "day" => utcDate(v).map(_.toString)
      case "month" =>
        utcDate(v).map(d => f"${d.getYear}%04d-${d.getMonthValue}%02d")
      case "hour" =>
        utcDateTime(v).map(dt => f"${dt.getYear}%04d-${dt.getMonthValue}%02d-" +
          f"${dt.getDayOfMonth}%02d-${dt.getHour}%02d")
      case "year" => utcDate(v).map(d => f"${d.getYear}%04d")
      case "bucket" =>
        str(v).map(s => PartitionTransform.bucketLocal(s, t.param).toString)
      case "truncate" =>
        // code-point-counted prefix — Spark's substring semantics
        str(v).map { s =>
          val cps = s.codePoints().toArray
          new String(cps, 0, math.min(t.param, cps.length))
        }
      case _ => None
    }
  }
}
