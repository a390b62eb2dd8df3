package graft.sources

import graft.storage.{CommitManifest, FileEntry}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, Count, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.types._

import scala.util.Try

/** The PARTIAL aggregate plan ([[ManifestAgg]]'s second outcome) and the
  * per-file aggregates its readers compute. */
private[sources] object PartialAgg {

  /** One pushed aggregate column. `srcIdx` is the column's ordinal in the
    * per-file read schema (−1 for COUNT(*), which reads no column). */
  sealed trait Spec extends Serializable { def srcIdx: Int }
  final case class CountStarSpec() extends Spec { val srcIdx: Int = -1 }
  final case class CountColSpec(srcIdx: Int) extends Spec
  final case class MinSpec(srcIdx: Int, dt: DataType) extends Spec
  final case class MaxSpec(srcIdx: Int, dt: DataType) extends Spec

  /** The planned split: output schema (group column first when grouped),
    * the folded manifest rows (one per group; exactly one when global),
    * the files that must be read with their group-value prefixes, and the
    * (logical) per-file read schema. */
  final case class Plan(
      schema: StructType, manifestRows: Seq[Array[Any]],
      readFiles: Seq[FileEntry], readSchema: StructType, specs: Seq[Spec],
      readPrefixes: Map[String, Array[Any]] = Map.empty,
      /** Scope size for explain()'s `read/total` — captured at plan time
        * (the scan's manifest may be header-only since r18). */
      totalFiles: Int = 0)

  /** Spark's NaN-greatest numeric ordering over internal values of the
    * decodable stat types (the only types specs admit). */
  private[sources] def cmp(dt: DataType): (Any, Any) => Int = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      (a, b) => java.lang.Long.compare(
        a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntegerType | DateType =>
      (a, b) => java.lang.Integer.compare(
        a.asInstanceOf[Int], b.asInstanceOf[Int])
    case ShortType => (a, b) => java.lang.Short.compare(
      a.asInstanceOf[Short], b.asInstanceOf[Short])
    case ByteType => (a, b) => java.lang.Byte.compare(
      a.asInstanceOf[Byte], b.asInstanceOf[Byte])
    case DoubleType => (a, b) => java.lang.Double.compare(
      a.asInstanceOf[Double], b.asInstanceOf[Double])
    case FloatType => (a, b) => java.lang.Float.compare(
      a.asInstanceOf[Float], b.asInstanceOf[Float])
    case other => throw new IllegalStateException(
      s"partial agg over non-decodable type $other") // unreachable by spec
  }
}

/** Aggregate pushdown from the manifest: COUNT(*), COUNT(col), and MIN/MAX
  * of the leading key or a declared stats column (numeric/temporal stat
  * space), global or GROUP BY the hive partition key. One evaluator
  * ([[ManifestAgg.evaluate]]) answers each file once from its manifest
  * evidence — a count, an exact extremum, "contributes nothing", or
  * undecidable — and folds the answers:
  *  - every file answered: the COMPLETE answer, a local scan of
  *    `manifest_agg_*` rows (zero data IO);
  *  - some files answered: the PARTIAL plan ([[GraftPartialAggScan]]) —
  *    the answered files fold into one pre-aggregated row per group and
  *    only the undecidable files (DV'd, stat-less, ±0.0-extremum) are
  *    read, each emitting one pre-aggregated row over its live rows.
  *    Spark's final merge (min of mins, max of maxes, sum of counts)
  *    stitches them exactly; a global aggregate always sees ≥ 1 input row
  *    because the manifest row is emitted even when it folded nothing;
  *  - no file answered: decline — Spark runs the normal plan, never
  *    wrong, only slower.
  */
private[sources] object ManifestAgg {

  /** COMPLETE answer (output schema, one row per group) or PARTIAL plan. */
  type Answer = Either[(StructType, Seq[Array[Any]]), PartialAgg.Plan]

  /** One classified aggregate — kind: '*' COUNT(*), 'c' COUNT(col),
    * 'm' MIN, 'M' MAX. */
  private final case class Agg(kind: Char, col: String, dt: DataType) {
    def isCount: Boolean = kind == '*' || kind == 'c'
  }

  /** One file's manifest answer to one aggregate (None = undecidable). */
  private sealed trait Ans
  private final case class Cnt(n: Long) extends Ans
  private final case class Ext(stat: String) extends Ans
  /** The file provably contributes nothing (no live rows, or an all-null
    * column under a null-ignoring MIN/MAX). */
  private case object NoRows extends Ans

  /** Classify `agg` (declining on an unsupported aggregate before `scope`
    * is read), answer each scoped file once, fold: every file answered ⇒
    * complete; some ⇒ partial; none ⇒ None. */
  def evaluate(agg: Aggregation, m: CommitManifest, schema: StructType,
      scope: => Seq[FileEntry]): Option[Answer] = {
    val part = m.partitionKey
    val pk = m.primaryKey.headOption
    def field(e: Expression): Option[StructField] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        schema.find(_.name == nr.fieldNames.head)
      case _ => None
    }
    // MIN/MAX only where the manifest holds the extremum in a stat space
    // that decodes exactly: the leading key or a declared stats column.
    // STRING stats may be truncated by the writer (fine for pruning, wrong
    // for an extremum).
    def extremum(kind: Char, e: Expression): Option[Agg] = field(e)
      .filter(f => (pk.contains(f.name) || m.statsColumns.contains(f.name)) &&
        GraftScan.statDecodable(f.dataType))
      .map(f => Agg(kind, f.name, f.dataType))
    val classified = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(Agg('*', "", LongType))
      case c: Count if !c.isDistinct =>
        field(c.column).map(f => Agg('c', f.name, f.dataType))
      case mn: Min => extremum('m', mn.column)
      case mx: Max => extremum('M', mx.column)
      case _ => None
    }
    if (classified.contains(None)) return None
    val aggs = classified.flatten
    // no GROUP BY, or exactly the hive partition key (zero aggregates:
    // `SELECT DISTINCT part`, the path-borne value list)
    val groupType: Option[DataType] = agg.groupByExpressions.toSeq match {
      case Seq() if aggs.nonEmpty => None
      case Seq(nr: NamedReference)
          if part.contains(nr.fieldNames.mkString(".")) =>
        Some(schema.find(_.name == part.get).getOrElse(return None).dataType)
      case _ => return None
    }
    val files = scope
    def rawOf(e: FileEntry): Option[String] =
      GraftScan.pathPartValue(part, e)
    // grouped: every file's path value pins its group — a flat-layout file
    // (after partition-spec evolution) or an unparseable value declines
    val typed: Map[String, Any] = groupType.fold(Map.empty[String, Any]) {
      dt =>
        files.map(e => rawOf(e).getOrElse(return None)).distinct.map(v =>
          v -> Try(GraftColumnarPartitionReader.parsePartitionValue(v, dt))
            .getOrElse(return None)).toMap
    }
    def exact(dt: DataType, s: String): Boolean =
      Try { BigDecimal(s); GraftScan.statDecode(dt, s) }.isSuccess &&
        (dt match {
          // a ZERO floating-point stat is sign-ambiguous (readers widen
          // +0.0 to -0.0 per parquet's FP-stats guidance): read, never guess
          case DoubleType | FloatType => BigDecimal(s) != 0
          case _ => true
        })
    def answer(e: FileEntry, a: Agg): Option[Ans] =
      if (e.liveRows == 0) Some(NoRows) // fully DV-deleted
      else a.kind match {
        case '*' => Some(Cnt(e.liveRows)) // exact under deletion vectors
        // path-borne: a file's rows all share its value (the null partition
        // ⇒ all null), and liveRows stays exact under deletion vectors
        case 'c' if part.contains(a.col) => rawOf(e).map(v =>
          Cnt(if (v == GraftScan.NullPartitionName) 0L else e.liveRows))
        // footer null counts; a deletion vector hides the deleted rows'
        // null-ness
        case 'c' => e.nulls.get(m.physicalName(a.col))
          .filter(_ => e.dvPath.isEmpty).map(n => Cnt(e.rows - n))
        case _ if e.dvPath.isDefined => None // the extremum may be deleted
        case k =>
          val phys = m.physicalName(a.col)
          val stat =
            if (pk.contains(a.col)) { if (k == 'm') e.minKey else e.maxKey }
            else e.extra.get(phys).flatMap(r => if (k == 'm') r.mn else r.mx)
          stat match {
            case Some(s) => if (exact(a.dt, s)) Some(Ext(s)) else None
            case None if e.nulls.get(phys).contains(e.rows) => Some(NoRows)
            case None => None
          }
      }
    // an undecidable file is read, unless an aggregate cannot be recomputed
    // from its rows: a nested column, or a partition column with no path
    // value (a pre-evolution file need not hold it)
    def readable(e: FileEntry): Boolean = aggs.forall(a => a.kind != 'c' ||
      (if (part.contains(a.col)) rawOf(e).isDefined
       else a.dt match {
         case _: StructType | _: ArrayType | _: MapType => false
         case _ => true
       }))
    final class Acc {
      var live = 0L
      val counts = new Array[Long](aggs.size)
      val best = new Array[String](aggs.size)
    }
    val folds = scala.collection.mutable.Map.empty[Option[String], Acc]
    val reads = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
    files.foreach { e =>
      val ans = aggs.map(answer(e, _))
      if (ans.contains(None)) {
        if (!readable(e)) return None
        reads += e
      } else {
        val acc = folds.getOrElseUpdate(
          if (groupType.isDefined) rawOf(e) else None, new Acc)
        acc.live += e.liveRows
        ans.flatten.zipWithIndex.foreach {
          case (Cnt(n), i) => acc.counts(i) += n
          case (Ext(s), i) =>
            if (acc.best(i) == null || {
              val c = BigDecimal(s).compare(BigDecimal(acc.best(i)))
              if (aggs(i).kind == 'm') c < 0 else c > 0
            }) acc.best(i) = s
          case _ => ()
        }
      }
    }
    if (files.nonEmpty && reads.size == files.size) return None
    def row(acc: Acc): Seq[Any] = aggs.indices.map(i =>
      if (aggs(i).isCount) acc.counts(i)
      else Option(acc.best(i)).map(GraftScan.statDecode(aggs(i).dt, _)).orNull)
    // a global aggregate always emits its row; a group with no live
    // answered rows emits none (a real scan has no group for a fully
    // DV-deleted partition, and read files emit their own rows)
    val rows: Seq[Array[Any]] = groupType match {
      case None => Seq(row(folds.getOrElse(None, new Acc)).toArray)
      case Some(_) => folds.toSeq
        .collect { case (Some(v), acc) if acc.live > 0 => (v, acc) }
        .sortBy(_._1).map { case (v, acc) => (typed(v) +: row(acc)).toArray }
    }
    // group column first, then one field per aggregate (Spark consumes the
    // scan output positionally)
    def schemaOf(prefix: String) = StructType(
      groupType.map(StructField(part.get, _, nullable = true)).toSeq ++
        aggs.zipWithIndex.map { case (a, i) =>
          StructField(s"$prefix$i", if (a.isCount) LongType else a.dt,
            nullable = !a.isCount)
        })
    if (reads.isEmpty) return Some(Left((schemaOf("manifest_agg_"), rows)))
    val readCols = aggs.filter(_.kind != '*').map(_.col).distinct
    val specs = aggs.map { a =>
      val i = readCols.indexOf(a.col)
      a.kind match {
        case '*' => PartialAgg.CountStarSpec()
        case 'c' => PartialAgg.CountColSpec(i)
        case 'm' => PartialAgg.MinSpec(i, a.dt)
        case _ => PartialAgg.MaxSpec(i, a.dt)
      }
    }
    Some(Right(PartialAgg.Plan(schemaOf("partial_agg_"), rows, reads.toSeq,
      StructType(readCols.map(schema(_))), specs,
      readPrefixes =
        if (groupType.isEmpty) Map.empty
        else reads.map(e => e.path -> Array[Any](typed(rawOf(e).get))).toMap,
      totalFiles = files.size)))
  }
}

/** The partial-agg batch: one synthetic partition carrying the folded
  * manifest row plus one partition per file that must actually be read. */
final class GraftPartialAggScan(
    root: java.nio.file.Path, m: CommitManifest, plan: PartialAgg.Plan)
  extends Scan with Batch {

  override def readSchema(): StructType = plan.schema
  override def toBatch: Batch = this

  override def description(): String =
    s"graft partial_agg_pushdown v${m.version} " +
      s"(${plan.manifestRows.size} manifest row(s) + " +
      s"${plan.readFiles.size}/${plan.totalFiles} files read)"

  override def planInputPartitions(): Array[InputPartition] = {
    val manifest: InputPartition =
      ManifestAggPartition(plan.manifestRows.toArray)
    val reads: Seq[InputPartition] = plan.readFiles.map { e =>
      AggFilePartition(
        root.resolve(e.path).toString,
        GraftScan.hivePathValues(e.path),
        e.dvPath.map(p => (root.resolve(p).toString, e.path)),
        plan.readPrefixes.getOrElse(e.path, Array.empty[Any]))
    }
    (manifest +: reads).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftPartialAggReaderFactory(
      GraftParquetIO.physicalSchema(plan.readSchema, m.columnMapping),
      plan.specs)
}

final case class ManifestAggPartition(rows: Array[Array[Any]])
  extends InputPartition

final case class AggFilePartition(
    filePath: String, partitionValues: Map[String, String],
    dv: Option[(String, String)],
    /** Group-value prefix prepended to the emitted row (empty = global). */
    prefix: Array[Any]) extends InputPartition

final class GraftPartialAggReaderFactory(
    physReadSchema: StructType, specs: Seq[PartialAgg.Spec])
  extends PartitionReaderFactory {

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = p match {
    case ManifestAggPartition(rows) => new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = new GenericInternalRow(rows(i))
      override def close(): Unit = ()
    }
    case AggFilePartition(path, pv, dv, prefix) =>
      new FileAggReader(
        new GraftPartitionReader(path, physReadSchema, pv, dv),
        physReadSchema, specs, prefix)
  }
}

/** Drains one file's LIVE rows (the underlying reader subtracts deletion
  * vectors) and emits a single pre-aggregated row: per-spec COUNT /
  * null-ignoring MIN/MAX over the file — O(file) once, O(columns needed)
  * wide. */
final class FileAggReader(
    under: PartitionReader[InternalRow], schema: StructType,
    specs: Seq[PartialAgg.Spec], prefix: Array[Any] = Array.empty)
  extends PartitionReader[InternalRow] {

  private var emitted = false
  private lazy val result: InternalRow = {
    val counts = Array.fill(specs.size)(0L)
    val best = Array.fill[Any](specs.size)(null)
    val cmps = specs.map {
      case PartialAgg.MinSpec(_, dt) => PartialAgg.cmp(dt)
      case PartialAgg.MaxSpec(_, dt) => PartialAgg.cmp(dt)
      case _ => null
    }.toArray
    val dts = specs.map {
      case PartialAgg.MinSpec(_, dt) => dt
      case PartialAgg.MaxSpec(_, dt) => dt
      case _ => NullType
    }.toArray
    while (under.next()) {
      val row = under.get()
      var i = 0
      while (i < specs.size) {
        specs(i) match {
          case _: PartialAgg.CountStarSpec => counts(i) += 1L
          case PartialAgg.CountColSpec(s) =>
            if (!row.isNullAt(s)) counts(i) += 1L
          case PartialAgg.MinSpec(s, _) =>
            if (!row.isNullAt(s)) {
              val v = row.get(s, dts(i))
              if (best(i) == null || cmps(i)(v, best(i)) < 0) best(i) = v
            }
          case PartialAgg.MaxSpec(s, _) =>
            if (!row.isNullAt(s)) {
              val v = row.get(s, dts(i))
              if (best(i) == null || cmps(i)(v, best(i)) > 0) best(i) = v
            }
        }
        i += 1
      }
    }
    new GenericInternalRow(prefix ++ specs.zipWithIndex.map {
      case (_: PartialAgg.CountStarSpec, i) => counts(i): Any
      case (_: PartialAgg.CountColSpec, i) => counts(i): Any
      case (_, i) => best(i)
    })
  }

  override def next(): Boolean = {
    if (emitted) return false
    val _ = result // force the drain
    emitted = true
    true
  }
  override def get(): InternalRow = result
  override def close(): Unit = under.close()
}
