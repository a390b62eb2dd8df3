package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.util.Try

import graft.storage.{CowTable, TableConfig}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types._

/** DSv2 WRITE path for graft tables — what makes `INSERT INTO` / `INSERT
  * OVERWRITE` / `df.write.format("graft").mode(...)` work against a
  * `USING graft` table, the writer surface the reference reaches through its
  * format connectors (reference: src/delta/delta-initial-load.py:61-78 path
  * write, src/hudi/hudi-cdc-load.py:115-157 format writer).
  *
  * Executor tasks write parquet data files straight into a WRITER-UNIQUE
  * version directory (`v{parent+1}-<token>/`, the same convention
  * [[CowTable.writeVersion]] uses); the driver's commit stats the written
  * footers (O(files) metadata, zero data re-scanned) and publishes the new
  * version through [[CowTable.commitAt]]'s hard-link CAS. Concurrent
  * APPENDS both land — the CAS loser rebases onto the winner (blind-append
  * conflict resolution, GraftWriteSpec); overwrites/creates stay
  * single-winner, the loser leaving only unreferenced files.
  *
  * PERFORMANCE CONTRACT: this writer materializes one parquet-example
  * `Group` per row — the right cost for the CDC-sized batches `INSERT
  * INTO`/MERGE carry, a real tax on multi-TB bulk loads. Bulk initial
  * loads should go through `CowTable.create`/`spark.read`-side plans
  * (Spark's vectorized parquet writer); the READ side is columnar either
  * way ([[GraftColumnarPartitionReader]]).
  *
  * Files are written with the PUBLIC parquet-hadoop example API (the write
  * twin of [[GraftPartitionReader]]) — flat primitive schemas only, matching
  * the connector's documented read constraint. Partition-keyed tables are
  * written HIVE-STYLE (`pk=value/` directories, partition column not stored
  * physically — the exact layout [[CowTable.writeVersion]] produces, and the
  * reference's, src/hudi/hudi-initial-load.py:75): the write declares
  * [[RequiresDistributionAndOrdering]] clustered+sorted on the partition
  * column, so Spark routes each partition value to one task in contiguous
  * runs and the writer holds ONE open file at a time (close-on-value-change;
  * an out-of-order row just opens a new sequence-numbered file — never
  * wrong). Connector-written files therefore get the same planning-time
  * partition pruning as API-written ones (q87).
  */
object GraftParquetIO {

  /** Rename a write schema's fields LOGICAL → PHYSICAL (column mapping);
    * identity when no mapping is active. Rows stay positional — only the
    * parquet field names change. */
  def physicalSchema(schema: StructType,
      mapping: Map[String, String]): StructType =
    if (mapping.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = mapping.getOrElse(f.name, f.name))))

  /** Smallest byte width whose two's complement can hold any `precision`-
    * digit unscaled value (the standard parquet fixed-len decimal sizing). */
  private def minBytesForPrecision(precision: Int): Int = {
    var n = 1
    while (!BigInt(10).pow(precision).-(1).abs
      .<(BigInt(2).pow(8 * n - 1))) n += 1
    n
  }

  /** Parquet schema for a flat Catalyst schema; loud rejection otherwise
    * (mirrors the read-side constraint in [[GraftScanBuilder.build]]). */
  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val rep = if (f.nullable) Repetition.OPTIONAL else Repetition.REQUIRED
      import LogicalTypeAnnotation._
      val t = f.dataType match {
        case BooleanType => Types.primitive(BOOLEAN, rep)
        case ByteType => Types.primitive(INT32, rep).as(intType(8, true))
        case ShortType => Types.primitive(INT32, rep).as(intType(16, true))
        case IntegerType => Types.primitive(INT32, rep)
        case LongType => Types.primitive(INT64, rep)
        case FloatType => Types.primitive(FLOAT, rep)
        case DoubleType => Types.primitive(DOUBLE, rep)
        case StringType => Types.primitive(BINARY, rep).as(stringType())
        case BinaryType => Types.primitive(BINARY, rep)
        case DateType => Types.primitive(INT32, rep).as(dateType())
        case TimestampType => Types.primitive(INT64, rep)
          .as(timestampType(true, TimeUnit.MICROS))
        case TimestampNTZType => Types.primitive(INT64, rep)
          .as(timestampType(false, TimeUnit.MICROS))
        // decimal physical layout mirrors Spark's own writer (the vectorized
        // reader requires it: <=18-digit decimals live in int/long vectors
        // that cannot take BINARY pages): INT32 / INT64 unscaled when they
        // fit, fixed-len big-endian bytes otherwise
        case d: DecimalType if d.precision <= 9 =>
          Types.primitive(INT32, rep).as(decimalType(d.scale, d.precision))
        case d: DecimalType if d.precision <= 18 =>
          Types.primitive(INT64, rep).as(decimalType(d.scale, d.precision))
        case d: DecimalType =>
          Types.primitive(FIXED_LEN_BYTE_ARRAY, rep)
            .length(minBytesForPrecision(d.precision))
            .as(decimalType(d.scale, d.precision))
        case other => throw new UnsupportedOperationException(
          s"graft DSv2 writer supports flat primitive schemas; column " +
            s"${f.name} is ${other.simpleString}. Write nested tables " +
            "through CowTable.")
      }
      b.addField(t.named(f.name))
    }
    b.named("graft_write")
  }

  /** Per-column appenders, resolved once per writer: element `j` writes the
    * group's field `j` from the ROW ordinal `rowOrdinals(j)` (the two differ
    * for hive-partitioned writes, where the partition column is dropped from
    * the data file). */
  def setters(schema: StructType, rowOrdinals: Array[Int])
      : Array[(Group, InternalRow) => Unit] =
    schema.fields.zipWithIndex.map { case (f, gi) =>
      val ri = rowOrdinals(gi)
      f.dataType match {
        case BooleanType => (g, r) => g.add(gi, r.getBoolean(ri))
        case ByteType => (g, r) => g.add(gi, r.getByte(ri).toInt)
        case ShortType => (g, r) => g.add(gi, r.getShort(ri).toInt)
        case IntegerType | DateType => (g, r) => g.add(gi, r.getInt(ri))
        case LongType | TimestampType | TimestampNTZType =>
          (g, r) => g.add(gi, r.getLong(ri))
        case FloatType => (g, r) => g.add(gi, r.getFloat(ri))
        case DoubleType => (g, r) => g.add(gi, r.getDouble(ri))
        case StringType =>
          // fromReusedByteArray: UnsafeRow-backed strings hand out buffers
          // parquet must copy before the row is recycled (dictionary pages
          // hold Binary refs; "reused" marks them copy-on-retain)
          (g, r) =>
            g.add(gi, Binary.fromReusedByteArray(r.getUTF8String(ri).getBytes))
        case BinaryType =>
          (g, r) => g.add(gi, Binary.fromReusedByteArray(r.getBinary(ri)))
        case d: DecimalType if d.precision <= 9 =>
          (g, r) =>
            g.add(gi, r.getDecimal(ri, d.precision, d.scale).toUnscaledLong.toInt)
        case d: DecimalType if d.precision <= 18 =>
          (g, r) =>
            g.add(gi, r.getDecimal(ri, d.precision, d.scale).toUnscaledLong)
        case d: DecimalType =>
          val n = minBytesForPrecision(d.precision)
          (g, r) => {
            val unscaled = r.getDecimal(ri, d.precision, d.scale)
              .toJavaBigDecimal.unscaledValue().toByteArray
            // sign-extend to the fixed width (big-endian two's complement)
            val fixed = new Array[Byte](n)
            if (unscaled.head < 0) java.util.Arrays.fill(fixed, -1: Byte)
            System.arraycopy(unscaled, 0, fixed, n - unscaled.length,
              unscaled.length)
            g.add(gi, Binary.fromConstantByteArray(fixed))
          }
        case other => throw new UnsupportedOperationException(
          s"graft DSv2 writer: unsupported column type ${other.simpleString}")
      }
    }

  /** A row's partition value as the hive path TEXT form the readers parse
    * back ([[GraftColumnarPartitionReader.parsePartitionValue]]) and the
    * pruner compares (`String.valueOf` of the filter literal). Null ⇒ None
    * (rendered `__HIVE_DEFAULT_PARTITION__`). Types with no unambiguous text
    * form (timestamp, binary) are rejected at write-build time. */
  def partitionValueRenderer(dt: DataType): (InternalRow, Int) => Option[String] = {
    val render: (InternalRow, Int) => String = dt match {
      case StringType => (r, i) => r.getUTF8String(i).toString
      case IntegerType => (r, i) => r.getInt(i).toString
      case LongType => (r, i) => r.getLong(i).toString
      case ShortType => (r, i) => r.getShort(i).toString
      case ByteType => (r, i) => r.getByte(i).toString
      case BooleanType => (r, i) => r.getBoolean(i).toString
      case DoubleType => (r, i) => r.getDouble(i).toString
      case FloatType => (r, i) => r.getFloat(i).toString
      case DateType => (r, i) =>
        java.time.LocalDate.ofEpochDay(r.getInt(i).toLong).toString
      case d: DecimalType =>
        (r, i) => r.getDecimal(i, d.precision, d.scale).toString
      case other => throw new UnsupportedOperationException(
        s"graft DSv2 writer: partition column type ${other.simpleString} " +
          "has no unambiguous hive-path form")
    }
    (r, i) => if (r.isNullAt(i)) None else Some(render(r, i))
  }
}

/** Builder: plain append by default; `truncate()` (INSERT OVERWRITE /
  * mode("overwrite")) drops the carry-over so the commit replaces the whole
  * snapshot — same semantics as [[CowTable.overwrite]]. Partitioned tables
  * additionally get the two PARTITION-SCOPED overwrite shapes of the SQL
  * surface: static (`INSERT OVERWRITE t PARTITION (pk = v)` →
  * `overwrite([EqualTo(pk, v)])` replaces exactly those hive dirs) and
  * dynamic (`partitionOverwriteMode=dynamic` → replaces exactly the
  * partitions PRESENT in the written data) — the standard partition
  * re-load idiom, costing O(replaced partitions) + the new bytes, never a
  * whole-snapshot rewrite. */
final class GraftWriteBuilder(
    root: Path, parent: Int, tableSchema: StructType,
    primaryKey: Seq[String], partitionKey: Option[String],
    info: LogicalWriteInfo,
    /** Present on hidden-partitioning tables: batch writes get their
      * generated column re-derived by [[TransformRecompute]]; STREAMING
      * writes have no batch-optimizer pass carrying that rule, so
      * `toStreaming` binds the transform expression into the writer itself
      * (per-row recompute of the hive dir segment — the column is dropped
      * from file bytes on every partitioned write path). */
    transformSpec: Option[String] = None)
  extends WriteBuilder with SupportsTruncate
  with org.apache.spark.sql.connector.write.SupportsOverwrite
  with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {

  private var overwrite = false
  private var dynamicParts = false
  // hive-path TEXT forms of the partitions a static overwrite replaces
  // (the null partition travels as its hive dir name)
  private var staticParts: Option[Set[String]] = None

  /** IDEMPOTENT-WRITE options (Delta parity): `.option("txnAppId", id)
    * .option("txnVersion", n)` — a replayed write with an (id, n) already
    * on the table commits nothing (see [[CowTable.withTxn]]). Both or
    * neither; a malformed version fails at PLANNING time, not mid-commit. */
  private val batchTxn: Option[(String, Long)] = {
    val id = Option(info.options.get("txnAppId")).filter(_.nonEmpty)
    val v = Option(info.options.get("txnVersion"))
    (id, v) match {
      case (Some(i), Some(n)) =>
        Some((i, try n.toLong catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"graft: txnVersion must be a long, got '$n'")
        }))
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        "graft: txnAppId and txnVersion must be set together")
    }
  }

  override def truncate(): WriteBuilder = { overwrite = true; this }

  override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter])
      : WriteBuilder = {
    import org.apache.spark.sql.sources.{AlwaysTrue, EqualNullSafe, EqualTo, In, IsNull}
    if (filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue]))
      return truncate()
    val pk = partitionKey.getOrElse(throw new UnsupportedOperationException(
      "graft: filtered INSERT OVERWRITE requires a hive-partitioned table " +
        s"(got filters ${filters.mkString(", ")} on an unpartitioned one)"))
    // each conjunct must scope the partition column; conjuncts AND together
    val sets = filters.toSeq.map {
      case EqualTo(`pk`, v) => Set(String.valueOf(v))
      case EqualNullSafe(`pk`, null) => Set(GraftScan.NullPartitionName)
      case EqualNullSafe(`pk`, v) => Set(String.valueOf(v))
      case IsNull(`pk`) => Set(GraftScan.NullPartitionName)
      case In(`pk`, vs) => vs.map(v => if (v == null)
        GraftScan.NullPartitionName else String.valueOf(v)).toSet
      case other => throw new UnsupportedOperationException(
        "graft INSERT OVERWRITE supports only partition-key equality/IN " +
          s"filters; got $other")
    }
    staticParts = Some(sets.reduce(_ intersect _))
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    if (partitionKey.isEmpty) throw new UnsupportedOperationException(
      "graft: dynamic partition overwrite requires a hive-partitioned table")
    dynamicParts = true
    this
  }

  override def build(): Write = {
    GraftParquetIO.messageType(info.schema()) // fail fast: flat schemas only
    val partCol = partitionKey.filter(info.schema().fieldNames.contains)
    // hive-path renderability check, at PLANNING time not mid-job
    partCol.foreach(k => GraftParquetIO.partitionValueRenderer(
      info.schema()(k).dataType))
    new Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
      import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
      import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder}
      override def description(): String =
        s"graft $root ${if (overwrite) "overwrite" else "append"}" +
          s" basedOn=v$parent partitioned=${partCol.isDefined}"
      /** Partitioned tables: cluster rows by partition value so each value
        * lands in one task (one output file per value per write, not one per
        * value per task) — the write-side half of q87's pruning story. */
      override def requiredDistribution(): Distribution = partCol match {
        case Some(k) => Distributions.clustered(Array(Expressions.identity(k)))
        case None => Distributions.unspecified()
      }
      /** Sort within tasks: by partition value (contiguous runs ⇒ the writer
        * holds one open file), then by the leading primary-key column so
        * every data file carries a TIGHT [minKey, maxKey] — the stats all
        * merge/scan pruning feeds on. */
      override def requiredOrdering(): Array[SortOrder] = {
        val cols = (partCol.toSeq ++
          primaryKey.headOption.filter(info.schema().fieldNames.contains))
          .distinct
        cols.map(c => Expressions.sort(Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
          .toArray
      }
      override def toBatch: BatchWrite = new GraftBatchWrite(
        root, parent, info.schema(), tableSchema, primaryKey, partitionKey,
        overwrite, staticParts, dynamicParts, batchTxn)
      /** `writeStream.format("graft")` — exactly-once micro-batch appends
        * (see [[GraftStreamingWrite]]). */
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
        if (overwrite) throw new UnsupportedOperationException(
          "graft streaming sink supports append output mode only")
        // HIDDEN PARTITIONING: no optimizer rule runs over a streaming
        // epoch's write plan, so the generated column is re-derived IN THE
        // WRITER — a bound expression over the epoch's rows computes the
        // hive dir segment (the column is dropped from file bytes either
        // way, so the stream may omit it or carry junk; drift impossible).
        val genExpr = transformSpec.map { sp =>
          val t = graft.storage.PartitionTransform.parse(sp)
          require(info.schema().fieldNames.contains(t.source),
            s"graft: streaming write on a $sp-partitioned table must " +
              s"carry the transform source column ${t.source}")
          val genDt = tableSchema(t.name).dataType
          org.apache.spark.sql.graftshim.ColumnBridge.bindToSchema(
            org.apache.spark.sql.SparkSession.active, info.schema(),
            t.expr, genDt)
        }
        new GraftStreamingWrite(root, info.schema(), primaryKey,
          partitionKey, info.queryId(), genExpr,
          genDt = transformSpec.map(sp => tableSchema(
            graft.storage.PartitionTransform.parse(sp).name).dataType))
      }
    }
  }
}

/** Streaming sink: each micro-batch epoch commits one new table version
  * through the same hard-link CAS as every other write path, made
  * EXACTLY-ONCE by a (queryId, epochId) transaction marker in the manifest
  * (the Delta txn-action design): a failure-recovery replay of an epoch
  * finds `lastStreamEpoch(queryId) >= epochId` and commits nothing, deleting
  * its re-written files. Epochs race correctly with concurrent batch/API
  * writers — a lost CAS re-reads the parent and retries, re-checking the
  * marker each attempt. The reference's hourly-cron micro-batch load
  * (mirrored by Bookmark/CdcStream on the read side) thus gets a native
  * `writeStream` sink: readStream → transform → graft table, checkpointed by
  * Spark, idempotent by the manifest. */
final class GraftStreamingWrite(
    root: Path, writeSchema: StructType,
    primaryKey: Seq[String], partitionKey: Option[String], queryId: String,
    /** Hidden partitioning: bound expression re-deriving the generated
      * column from each row of `writeSchema` (see GraftWriteBuilder's
      * `toStreaming`); with its declared type for dir-value rendering. */
    genExpr: Option[org.apache.spark.sql.catalyst.expressions.Expression] =
      None,
    genDt: Option[org.apache.spark.sql.types.DataType] = None)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private def table(spark: SparkSession): CowTable =
    CowTable(spark, root.toString, CowTable.configAt(root,
      TableConfig(root.getFileName.toString, primaryKey, partitionKey)))

  /** Mapping captured at STREAM START: every epoch's files are written with
    * these physical names. A rename committed mid-stream would desynchronize
    * factory and manifest — the per-epoch commit re-checks and fails loudly
    * (restart the stream), never committing files under stale names. */
  private val startMapping: Map[String, String] = {
    val v = CowTable.currentVersionAt(root)
    if (v > 0) CowTable.manifestAt(root, v).columnMapping else Map.empty
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    new GraftStreamingWriterFactory(root.toString, queryId,
      GraftParquetIO.physicalSchema(writeSchema, startMapping).json,
      partitionKey, genExpr, genDt)

  override def commit(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq.collect {
      case GraftCommitMessage(fs) => fs
    }.flatten
    val tbl = table(SparkSession.active)
    var attempts = 0
    while (true) {
      if (tbl.lastStreamEpoch(queryId).exists(_ >= epochId)) {
        // replayed epoch: already applied — drop the re-written files
        files.foreach { case (p, _) =>
          Try(Files.deleteIfExists(root.resolve(p)))
        }
        return
      }
      val parent = tbl.currentVersion
      val schema =
        if (parent > 0)
          CowTable.structFromJson(tbl.manifest(parent).schemaJson)
        else writeSchema // first epoch CREATES the table
      val mapping =
        if (parent > 0) tbl.manifest(parent).columnMapping
        else Map.empty[String, String]
      // mid-stream rename/drop fence: the epoch's files carry
      // startMapping's physical names for every writeSchema column — a
      // diverged current mapping would mis-bind them, and a column DROPPED
      // since the stream started would make its incoming data silently
      // unreadable (the commit schema no longer carries it). Delta likewise
      // fails mid-stream schema changes and demands a restart.
      val writeCols = writeSchema.fieldNames.toSet
      val live = schema.fieldNames.toSet
      val dropped = writeCols.filterNot(live)
      if (dropped.nonEmpty)
        throw new IllegalStateException(
          s"graft streaming sink: column(s) ${dropped.mkString(", ")} of " +
            s"$root were dropped while the stream was running — restart " +
            "the stream so it re-resolves the table schema")
      if (mapping.view.filterKeys(writeCols).toMap !=
          startMapping.view.filterKeys(writeCols).toMap)
        throw new IllegalStateException(
          s"graft streaming sink: columns of $root were renamed while the " +
            "stream was running — restart the stream so its writers pick " +
            "up the new column mapping")
      val fresh = tbl.statListedFiles(files, schema, mapping)
      // constraints validate the freshly written epoch files pre-commit; a
      // violation leaves them unreferenced (same inert state as an abort)
      tbl.enforceConstraintsOnFiles(fresh, schema,
        s"streaming epoch $epochId", mapping)
      val carry = if (parent == 0) Nil else tbl.manifest(parent).files
      try {
        tbl.commitAt(parent, fresh, carry, schema,
          streamTxn = Some((queryId, epochId)))
        return
      } catch {
        // a concurrent writer took this version: re-read and retry (bounded)
        case e: graft.storage.ConcurrentWriteException =>
          attempts += 1
          if (attempts > 5) throw e
      }
    }
  }

  override def abort(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case GraftCommitMessage(fs) => fs.foreach { case (p, _) =>
        Files.deleteIfExists(root.resolve(p))
      }
      case _ => ()
    }
}

/** Executor-side streaming factory: files land in a per-(query, epoch)
  * directory; task/attempt uniqueness comes from the task id in the file
  * name, and only commit-reported files are ever referenced. */
final class GraftStreamingWriterFactory(
    rootStr: String, queryId: String, schemaJson: String,
    partitionKey: Option[String],
    genExpr: Option[org.apache.spark.sql.catalyst.expressions.Expression] =
      None,
    genDt: Option[org.apache.spark.sql.types.DataType] = None)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(rootStr,
      f"se-${queryId.replace("-", "").take(8)}-e$epochId%06d",
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      partitionKey, partitionId, taskId,
      genEval = genExpr.map(e => (r: InternalRow) => e.eval(r)),
      genDt = genDt)
}

final case class GraftCommitMessage(files: Seq[(String, Long)])
  extends WriterCommitMessage

/** Driver-side commit protocol: executors report (relative path, rows); the
  * commit stats exactly those files and CASes the manifest. An aborted job
  * deletes the reported files — unreported stragglers stay as unreferenced
  * garbage, the same inert state a crashed API writer leaves. */
final class GraftBatchWrite(
    root: Path, parent: Int, writeSchema: StructType,
    tableSchema: StructType, primaryKey: Seq[String],
    partitionKey: Option[String], overwrite: Boolean,
    staticParts: Option[Set[String]] = None,
    dynamicParts: Boolean = false,
    batchTxn: Option[(String, Long)] = None)
  extends BatchWrite {

  /** Writer-unique data dir (see [[CowTable.writeVersion]]). */
  private val verSeg = f"v${parent + 1}%05d-" +
    java.util.UUID.randomUUID.toString.replace("-", "").substring(0, 8)

  /** COLUMN MAPPING of the parent manifest: files store PHYSICAL names
    * (rename-stable), the aligned query output carries logical ones. */
  private val mapping: Map[String, String] =
    if (parent > 0) CowTable.manifestAt(root, parent).columnMapping
    else Map.empty

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(root.toString, verSeg,
      GraftParquetIO.physicalSchema(writeSchema, mapping).json,
      partitionKey)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq.collect {
      case GraftCommitMessage(fs) => fs
    }.flatten
    val spark = SparkSession.active
    val tbl = CowTable(spark, root.toString, CowTable.configAt(root,
      TableConfig(root.getFileName.toString, primaryKey, partitionKey)))
    // IDEMPOTENT WRITE (txnAppId/txnVersion options): a replayed write
    // whose marker is already on the table commits nothing and deletes its
    // re-written files — the same contract as the streaming sink's epochs
    def txnReplayed: Boolean = batchTxn.exists { case (id, v) =>
      tbl.lastTxnVersion(id).exists(_ >= v)
    }
    if (txnReplayed) {
      files.foreach { case (p, _) => Try(Files.deleteIfExists(root.resolve(p))) }
      return
    }
    batchTxn.foreach { case (id, v) => tbl.withTxn(id, v) }
    // commit schema: the existing table's schema for appends/overwrites of a
    // live table (Spark already aligned the query output to it); the query
    // schema when this write CREATES the table (CTAS / first write)
    val schema = if (parent > 0) tableSchema else writeSchema
    val fresh = tbl.statListedFiles(files, schema, mapping)
    // CHECK constraints validate the freshly written files BEFORE the CAS
    // commit — one parallel scan of the new data only; a violation throws
    // with the files still unreferenced (the caller's abort deletes them)
    tbl.enforceConstraintsOnFiles(fresh, schema, "connector write", mapping)
    // BLIND-APPEND conflict resolution (Delta WriteSerializable): an
    // INSERT INTO that loses the CAS re-reads the winner's state and
    // re-commits on top — its files were written to a writer-unique dir and
    // depend on nothing, so carrying the winner's files is always sound.
    // Overwrites and creates stay single-winner: they assert a table STATE,
    // not a delta, and a rebase would silently drop the winner's commit.
    // A winner that changed the SCHEMA or the COLUMN MAPPING aborts the
    // rebase: the appended files were aligned to the old schema and carry
    // the old mapping's physical names. Schema equality alone is not
    // enough — a DROP+re-ADD or a rename swap can restore an identical
    // logical schema while rebinding physical slots, which would make the
    // appended files read back NULL (burned slot) or column-swapped.
    // partition-scoped overwrite: keep exactly the parent files OUTSIDE the
    // replaced partitions. Every parent file must be path-attributable — an
    // old segment-less layout cannot be scoped and fails LOUD (a silent
    // keep would resurrect replaced rows, a silent drop would lose others).
    val partitionScope: Option[Set[String]] =
      if (dynamicParts) Some(fresh.map(e =>
        GraftScan.pathPartValue(partitionKey, e).getOrElse(
          throw new IllegalStateException(
            "graft dynamic overwrite: written file lacks a partition " +
              s"segment: ${e.path}"))).toSet)
      else staticParts
    def scopedCarry(base: Int): Seq[graft.storage.FileEntry] =
      CowTable.manifestAt(root, base).files.filter { f =>
        val v = GraftScan.pathPartValue(partitionKey, f).getOrElse(
          throw new IllegalStateException(
            "graft INSERT OVERWRITE: parent file without a partition path " +
              s"segment (pre-partitioning layout): ${f.path} — cannot " +
              "scope the overwrite; compact/rewrite the table first"))
        !partitionScope.get.contains(v)
      }
    var base = parent
    var attempts = 0
    while (true) {
      val carry =
        if (overwrite || base == 0) Nil
        else if (partitionScope.isDefined) scopedCarry(base)
        else CowTable.manifestAt(root, base).files
      try {
        tbl.commitAt(base, fresh, carry, schema)
        return
      } catch {
        case e: graft.storage.ConcurrentWriteException =>
          attempts += 1
          // partition overwrites assert a partition STATE — single-winner
          // like whole-snapshot overwrites, no blind-append rebase
          val blindAppend =
            !overwrite && partitionScope.isEmpty && parent > 0
          if (!blindAppend || attempts > 8) throw e
          val now = CowTable.currentVersionAt(root)
          val winner = CowTable.manifestAt(root, now)
          val winnerSchema = CowTable.structFromJson(winner.schemaJson)
          // a concurrent replica replaying the SAME txn may be the winner —
          // then this write is already applied: clean up, exactly-once
          if (txnReplayed) {
            files.foreach { case (p, _) =>
              Try(Files.deleteIfExists(root.resolve(p)))
            }
            return
          }
          if (winnerSchema != schema || winner.columnMapping != mapping)
            throw new graft.storage.ConcurrentWriteException(
              s"concurrent writer changed the schema or column mapping of " +
                s"$root while this append was in flight — re-run the " +
                "append against the new table state")
          base = now
      }
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach {
      case GraftCommitMessage(fs) =>
        fs.foreach { case (p, _) => Files.deleteIfExists(root.resolve(p)) }
      case _ => ()
    }
    Try(Files.deleteIfExists(root.resolve(verSeg)))
  }
}

/** Serializable executor-side factory (schema ships as JSON). */
final class GraftWriterFactory(
    rootStr: String, verSeg: String, schemaJson: String,
    partitionKey: Option[String] = None)
  extends DataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(rootStr, verSeg,
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      partitionKey, partitionId, taskId)
}

/** One task's writer. Unpartitioned: lazily opens
  * `<verSeg>/part-<partition>-<task>.parquet` on the first row (empty
  * partitions produce NO file, not an empty one). Hive-partitioned: writes
  * `<verSeg>/pk=<value>/part-<partition>-<task>-<seq>.parquet`, partition
  * column dropped from the file (it lives in the path — the exact
  * [[CowTable.writeVersion]] layout); one file open at a time, rolled on
  * partition-value change (the write's required ordering makes values
  * contiguous; an out-of-order straggler re-opens the value under the next
  * seq — extra file, never wrong). Counts rows per file; deletes its files
  * on abort. */
final class GraftDataWriter(
    rootStr: String, verSeg: String, schema: StructType,
    partitionKey: Option[String], partitionId: Int, taskId: Long,
    /** Hidden partitioning (streaming sink): compute the generated
      * column's value from the row instead of reading it — the incoming
      * value (if any) is never trusted, matching the funnel/plan-rule
      * recompute of the batch paths. `genDt` renders the computed value. */
    genEval: Option[InternalRow => Any] = None,
    genDt: Option[org.apache.spark.sql.types.DataType] = None)
  extends DataWriter[InternalRow] {

  private val partIdx: Int =
    partitionKey.filter(schema.fieldNames.contains)
      .map(schema.fieldIndex).getOrElse(-1)
  private val renderPart: (InternalRow, Int) => Option[String] =
    if (genEval.isDefined)
      GraftParquetIO.partitionValueRenderer(genDt.getOrElse(
        throw new IllegalStateException(
          "graft writer: genEval requires genDt")))
    else if (partIdx < 0) null
    else GraftParquetIO.partitionValueRenderer(schema.fields(partIdx).dataType)
  // holder row for rendering a COMPUTED partition value through the same
  // (row, ordinal) renderer the stored-column path uses
  private val genHolder =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)

  /** Physical file schema: the write schema minus the hive partition column;
    * setter j reads row ordinal rowOrdinals(j). */
  private val dataFields =
    schema.fields.zipWithIndex.filter(_._2 != partIdx)
  private val dataSchema = StructType(dataFields.map(_._1))
  private val rowOrdinals = dataFields.map(_._2)
  private val messageType = GraftParquetIO.messageType(dataSchema)
  private val setters = GraftParquetIO.setters(dataSchema, rowOrdinals)
  private val factory = new SimpleGroupFactory(messageType)

  private var writer: ParquetWriter[Group] = _
  private var currentDir: String = _   // "pk=v/" segment of the open file
  private var currentPath: String = _  // relative path of the open file
  private var rows = 0L                // rows in the open file
  private var seq = 0                  // per-task file sequence
  private val done = scala.collection.mutable.ListBuffer[(String, Long)]()

  private def dirSegment(r: InternalRow): String =
    if (genEval.isEmpty && partIdx < 0) ""
    else {
      val rendered = genEval match {
        case Some(f) =>
          genHolder.update(0, f(r))
          renderPart(genHolder, 0)
        case None => renderPart(r, partIdx)
      }
      val v = rendered
        .map(org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName)
        .getOrElse("__HIVE_DEFAULT_PARTITION__")
      partitionKey.get + "=" + v + "/"
    }

  private def roll(dir: String): Unit = {
    closeCurrent()
    currentDir = dir
    currentPath = f"$verSeg/${dir}part-$partitionId%05d-$taskId-$seq%03d.parquet"
    seq += 1
    val abs = Paths.get(rootStr).resolve(currentPath)
    Files.createDirectories(abs.getParent)
    writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(abs.toString))
      .withType(messageType)
      .withConf(BaseConf.copy())
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    rows = 0L
  }

  private def closeCurrent(): Unit =
    if (writer != null) {
      writer.close()
      writer = null
      done += ((currentPath, rows))
    }

  /** Row-level writes deliver (metadataRow, dataRow); the data row is
    * already projected to the write schema — metadata is not persisted. */
  override def write(meta: InternalRow, data: InternalRow): Unit = write(data)

  override def write(r: InternalRow): Unit = {
    val dir = dirSegment(r)
    if (writer == null || dir != currentDir) roll(dir)
    val g = factory.newGroup()
    var j = 0
    while (j < setters.length) {
      if (!r.isNullAt(rowOrdinals(j))) setters(j)(g, r)
      j += 1
    }
    writer.write(g)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    closeCurrent()
    GraftCommitMessage(done.toList)
  }

  override def abort(): Unit = {
    closeCurrent()
    done.foreach { case (p, _) =>
      Files.deleteIfExists(Paths.get(rootStr).resolve(p))
    }
  }

  override def close(): Unit =
    if (writer != null) { writer.close(); writer = null }
}
