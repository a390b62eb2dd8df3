package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Executor-side reader: one parquet data file → InternalRows of the
  * requested projection, via the parquet-hadoop Group API (the PUBLIC
  * example reader — no Spark-internal parquet classes).
  *
  * Projection is pushed into the parquet layer (`parquet.read.schema` set to
  * the intersection of the file schema with the requested columns), so
  * pruned columns are never decoded or materialized. Three value sources per
  * requested column, resolved once at open time (no per-row branching):
  *   - present in the file → a primitive converter (full logical-type
  *     handling: dates, MILLIS/MICROS int64 timestamps, INT96, decimals in
  *     int32/int64/binary/fixed, UTF8 strings);
  *   - a hive partition column → a constant parsed from the directory path;
  *   - absent (file predates the column — schema evolution) → null.
  */
final class GraftPartitionReader(
    filePath: String, required: StructType,
    partitionValues: Map[String, String],
    /** Deletion-vector ref (abs sidecar dir, root-relative file path):
      * marked positions are skipped while reading sequentially. */
    dv: Option[(String, String)] = None,
    /** GENERATED-partition-column backfill (partition-spec evolution): a
      * file that predates the current transform carries neither the column
      * physically nor in its path — derive it per row from the source
      * column via the pre-bound expression (exact: the same Catalyst
      * expression the write funnel computes). */
    genFill: Option[GenFill] = None,
    /** Pushed source filters for ROW-GROUP skipping (same conversion as the
      * columnar path, [[ParquetRowGroupFilter]]). The row reader keeps DV
      * positions and `_pos` EXACT under skipping by reading surviving
      * groups through explicit file ranges with their original start row
      * indexes — positions never drift. Pruning-only (filters stay
      * residual above the scan). */
    filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    nameMapping: Map[String, String] = Map.empty,
    /** Files below this size skip the filter evaluation — one small row
      * group decodes for less than the planning costs (tests lower it). */
    rowGroupFilterMinBytes: Long = 4L << 20)
  extends org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {

  private val conf = BaseConf.copy()
  private val hPath = new org.apache.hadoop.fs.Path(filePath)

  // file schema + row-group metadata from the footer (cheap: footer only),
  // for projection, converter resolution, and row-group skipping
  private val (fileSchema: MessageType,
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData]) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(hPath, conf))
    try (r.getFooter.getFileMetaData.getSchema,
      r.getFooter.getBlocks.asScala.toSeq)
    finally r.close()
  }

  /** Surviving CONTIGUOUS row-group runs under the pushed predicate:
    * (first row index, byte range lo, byte range hi) per run — None when
    * no predicate applies (zero-overhead original single-reader path).
    * Block selection replays parquet's own stats-only row-group filter
    * against the footer blocks; each run then reads via `withFileRange`
    * (range [firstBlock.start, lastBlock.start + lastBlock.compressedSize)
    * selects exactly the run's blocks by the midpoint rule), so global row
    * positions reconstruct EXACTLY from the footer's per-block row counts
    * — what keeps DV subtraction and `_pos` correct under skipping. */
  private val groupRuns: Option[Vector[(Long, Long, Long)]] =
    if (filters.isEmpty ||
      java.nio.file.Files.size(
        java.nio.file.Paths.get(filePath)) < rowGroupFilterMinBytes) None
    else ParquetRowGroupFilter.survivingRuns(
      fileSchema, blocks, filters, nameMapping)

  private val fileFields: Map[String, org.apache.parquet.schema.Type] =
    fileSchema.getFields.asScala.map(t => t.getName -> t).toMap
  private val inFile: Set[String] = fileFields.keySet
  // the backfill engages only when THIS file lacks the generated column
  // everywhere (new-era files carry it in the path; pre-drop data columns
  // of the same name are fenced at evolution time)
  private val genActive: Option[GenFill] = genFill.filter(gf =>
    required.fieldNames.contains(gf.genName) &&
      !partitionValues.contains(gf.genName) && !inFile(gf.genName))
  private val readCols: Seq[String] = {
    val base = required.fields.toSeq.map(_.name)
      .filter(c => inFile(c) && !partitionValues.contains(c))
    genActive match {
      // the source column must decode even when the query didn't ask for
      // it — appended LAST so the required columns' ordinals are unmoved
      case Some(gf) if inFile(gf.srcPhys) && !base.contains(gf.srcPhys) =>
        base :+ gf.srcPhys
      case _ => base
    }
  }

  private def mkReader(range: Option[(Long, Long)]): ParquetReader[Group] = {
    val requested = new MessageType("graft_projection",
      readCols.map(fileFields(_)).asJava)
    val c = new Configuration(conf)
    c.set(ReadSupport.PARQUET_READ_SCHEMA, requested.toString)
    val b = ParquetReader.builder(new GroupReadSupport(), hPath).withConf(c)
    range.fold(b) { case (lo, hi) => b.withFileRange(lo, hi) }.build()
  }

  private var runIdx = 0
  private var reader: ParquetReader[Group] = groupRuns match {
    case None => mkReader(None)
    case Some(rs) if rs.isEmpty => null // every group skipped: zero rows
    case Some(rs) => mkReader(Some((rs(0)._2, rs(0)._3)))
  }

  /** Per-required-column extractor, fixed at open time. A requested `_file`
    * metadata column (not shadowed by a real data column) is the constant
    * file path — what row-level operations group by. */
  private val extractors: Array[Group => Any] =
    required.fields.map { f =>
      if (partitionValues.contains(f.name)) {
        val const = GraftColumnarPartitionReader.parsePartitionValue(
          partitionValues(f.name), f.dataType)
        (_: Group) => const
      } else if (!inFile(f.name)) {
        if (f.name == GraftTable.FileColumnName) {
          val const = UTF8String.fromString(filePath)
          (_: Group) => const
        } else if (f.name == GraftTable.PosColumnName) {
          // running row position (parquet row index, DV-skipped rows still
          // counted) — the row-id half of the delta-based row-level path
          (_: Group) => java.lang.Long.valueOf(rowPos)
        } else if (genActive.exists(_.genName == f.name)) {
          val gf = genActive.get
          if (partitionValues.contains(gf.srcPhys)) {
            // identity-on-source era (ts -> day(ts) evolution): the SOURCE
            // itself is path-borne in old files — the generated value is a
            // per-file CONSTANT of the transform over the parsed dir value
            val srcRow = new GenericInternalRow(Array[Any](
              GraftColumnarPartitionReader.parsePartitionValue(
                partitionValues(gf.srcPhys), gf.srcType)))
            val const = gf.expr.eval(srcRow)
            (_: Group) => const
          } else if (!inFile(gf.srcPhys)) (_: Group) => null
          else {
            val sIdx = readCols.indexOf(gf.srcPhys)
            val sConv = converter(fileFields(gf.srcPhys).asPrimitiveType(),
              gf.srcType, gf.srcPhys)
            val srcRow = new GenericInternalRow(1)
            (g: Group) => {
              srcRow.update(0,
                if (g.getFieldRepetitionCount(sIdx) == 0) null
                else sConv(g, sIdx))
              gf.expr.eval(srcRow)
            }
          }
        } else {
          // file predates the column: its INITIAL DEFAULT when declared
          // (EXISTS_DEFAULT metadata — stored nulls in post-add files take
          // the in-file branch below and stay null), else null
          val const = graft.storage.ColumnDefaults.internalValue(f)
          (_: Group) => const
        }
      } else {
        val idx = readCols.indexOf(f.name)
        val pt = fileFields(f.name).asPrimitiveType()
        val conv = converter(pt, f.dataType, f.name)
        (g: Group) =>
          if (g.getFieldRepetitionCount(idx) == 0) null else conv(g, idx)
      }
    }

  private var current: Group = _
  /** Deleted positions, sorted; `delIdx` only moves forward because
    * `rowPos` does. */
  private val deleted: Array[Long] = dv.fold(Array.emptyLongArray) {
    case (dirAbs, rel) => DvSidecar.positions(dirAbs, rel)
  }
  private var delIdx = 0
  private def isDeleted(p: Long): Boolean = {
    while (delIdx < deleted.length && deleted(delIdx) < p) delIdx += 1
    delIdx < deleted.length && deleted(delIdx) == p
  }
  private var rowPos: Long = groupRuns match {
    case Some(rs) if rs.nonEmpty => rs(0)._1 - 1
    case _ => -1L
  }

  /** Next group, advancing across surviving runs; `rowPos` tracks the
    * GLOBAL parquet row index of the returned group throughout. */
  private def readNext(): Group = {
    if (reader == null) return null
    var g = reader.read(); rowPos += 1
    while (g == null && advanceRun()) { g = reader.read(); rowPos += 1 }
    g
  }

  private def advanceRun(): Boolean = groupRuns match {
    case Some(rs) if runIdx + 1 < rs.length =>
      reader.close()
      runIdx += 1
      rowPos = rs(runIdx)._1 - 1
      reader = mkReader(Some((rs(runIdx)._2, rs(runIdx)._3)))
      true
    case _ => false
  }

  override def next(): Boolean = {
    current = readNext()
    while (current != null && isDeleted(rowPos)) current = readNext()
    current != null
  }

  override def get(): InternalRow =
    new GenericInternalRow(extractors.map(_(current)))

  override def close(): Unit = if (reader != null) reader.close()

  private def unsupported(name: String, pt: PrimitiveType, dt: DataType) =
    throw new UnsupportedOperationException(
      s"graft reader: column $name of parquet type $pt cannot be read as " +
        s"${dt.simpleString}")

  /** (group, fieldIndex) → Catalyst value for a primitive column. */
  private def converter(
      pt: PrimitiveType, dt: DataType, name: String): (Group, Int) => Any = {
    val ann = pt.getLogicalTypeAnnotation
    (pt.getPrimitiveTypeName, dt) match {
      case (BOOLEAN, BooleanType) => (g, i) => g.getBoolean(i, 0)
      case (INT32, IntegerType | DateType) => (g, i) => g.getInteger(i, 0)
      case (INT32, ShortType) => (g, i) => g.getInteger(i, 0).toShort
      case (INT32, ByteType) => (g, i) => g.getInteger(i, 0).toByte
      case (INT32, LongType) => (g, i) => g.getInteger(i, 0).toLong
      case (INT32, d: DecimalType) =>
        (g, i) => Decimal(BigDecimal(BigInt(g.getInteger(i, 0)), d.scale),
          d.precision, d.scale)
      case (INT64, LongType) => (g, i) => g.getLong(i, 0)
      case (INT64, TimestampType | TimestampNTZType) =>
        // both Catalyst timestamp types carry micros-since-epoch longs; the
        // annotation's isAdjustedToUTC flag decided which Spark type the
        // schema holds, the physical value handling is identical
        val scale = ann match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            ts.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MICROS => 1L
              case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
              case u => throw new UnsupportedOperationException(
                s"graft reader: timestamp unit $u in column $name")
            }
          case _ => unsupported(name, pt, dt)
        }
        (g, i) => g.getLong(i, 0) * scale
      case (INT64, d: DecimalType) =>
        (g, i) => Decimal(BigDecimal(BigInt(g.getLong(i, 0)), d.scale),
          d.precision, d.scale)
      case (INT96, TimestampType) =>
        // legacy 12-byte (nanos-of-day LE, julian-day LE) timestamps
        (g, i) => {
          val b = java.nio.ByteBuffer.wrap(g.getInt96(i, 0).getBytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nanosOfDay = b.getLong
          val julianDay = b.getInt
          DateTimeUtils.fromJulianDay(julianDay, nanosOfDay)
        }
      case (FLOAT, FloatType) => (g, i) => g.getFloat(i, 0)
      case (FLOAT, DoubleType) => (g, i) => g.getFloat(i, 0).toDouble
      case (DOUBLE, DoubleType) => (g, i) => g.getDouble(i, 0)
      case (BINARY, StringType) =>
        (g, i) => UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
      case (BINARY, BinaryType) => (g, i) => g.getBinary(i, 0).getBytes
      case (BINARY | FIXED_LEN_BYTE_ARRAY, d: DecimalType) =>
        (g, i) => Decimal(
          BigDecimal(BigInt(g.getBinary(i, 0).getBytes), d.scale),
          d.precision, d.scale)
      case _ => unsupported(name, pt, dt)
    }
  }

}

/** Serialized per-scan backfill recipe for the GENERATED partition column
  * (partition-spec evolution): `expr` is resolved, RuntimeReplaceable-
  * free, and BOUND to a one-column row of `srcType` (the transform source)
  * — built driver-side via ColumnBridge.bindToSchema, evaluated per row
  * executor-side. */
final case class GenFill(
    genName: String, srcPhys: String,
    srcType: DataType,
    expr: org.apache.spark.sql.catalyst.expressions.Expression)
  extends Serializable

object GenFill {
  /** Backfill recipe for a scan of `files` under manifest `m`: Some only
    * when the table has a partition transform, its generated column is
    * required, and ANY scanned file predates the transform (no path-borne
    * value). Resolution/binding happens DRIVER-side against the session's
    * timezone (the same analysis the write funnel gets). */
  def forScan(m: graft.storage.CommitManifest, required: StructType,
      files: Seq[graft.storage.FileEntry],
      /** Engage even when every listed file is pathed — change-feed ranges
        * can read HISTORICAL files from retired eras that no longer appear
        * in the current snapshot's list (the per-file reader still only
        * derives where the column is truly absent). */
      force: Boolean = false): Option[GenFill] =
    m.partitionSpec.flatMap { sp =>
      val t = graft.storage.PartitionTransform.parse(sp)
      val schema = graft.storage.CowTable.structFromJson(m.schemaJson)
      if (!required.fieldNames.contains(t.name) ||
        !schema.fieldNames.contains(t.source) ||
        (!force && files.forall(e =>
          GraftScan.pathPartValue(m.partitionKey, e).isDefined))) None
      else {
        val srcPhys = m.physicalName(t.source)
        val srcType = schema(t.source).dataType
        val bound = org.apache.spark.sql.graftshim.ColumnBridge.bindToSchema(
          org.apache.spark.sql.SparkSession.active,
          StructType(Seq(StructField(srcPhys, srcType))),
          t.applyTo(org.apache.spark.sql.functions.col(srcPhys)),
          required(t.name).dataType)
        Some(GenFill(m.physicalName(t.name), srcPhys, srcType, bound))
      }
    }
}
