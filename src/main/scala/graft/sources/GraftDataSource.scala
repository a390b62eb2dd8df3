package graft.sources

import java.nio.file.{Path, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import graft.storage.{CommitManifest, CowTable, FileEntry, PartitionTransform}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector for CowTable — the catalog-integration surface
  * the reference gets from its format jars' own connectors (Hudi/Iceberg/
  * Delta all register a Spark data source; e.g. the reference reads tables
  * back via the format, src/iceberg/iceberg-cdc-load.py:85-93):
  *
  * {{{
  *   spark.read.format("graft").load(root)                    // current
  *   spark.read.format("graft").option("versionAsOf", 2)...   // time travel
  *   spark.read.format("graft").option("timestampAsOf", ms)...
  *   CREATE TABLE t USING graft LOCATION '<root>'             // SQL surface
  * }}}
  *
  * Scan planning pushes key-range filters (=, <, <=, >, >=, AND on the
  * primary key) into MANIFEST-level file pruning — the O(files) metadata
  * skip [[CowTable.filesInRange]] gives merges — and prunes columns down to
  * the requested projection (honored inside the parquet reader via a
  * requested-schema projection, so unread columns are never decoded).
  * Pushed filters stay residual: Spark re-applies the exact predicate, so
  * pruning can only skip files, never change results.
  *
  * The per-partition reader is the parquet-hadoop Group API (one partition
  * per data file, schema-evolution null-fill, hive partition-value
  * reconstruction from the path). It is row-oriented — fine for the
  * SQL/catalog surface; the bulk-analytics path remains `CowTable.read()`,
  * which scans through Spark's vectorized parquet source. Flat primitive
  * schemas only (CDC tables are flat by construction); nested types are
  * rejected loudly at planning time.
  */
class GraftDataSource extends TableProvider
  with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graft"

  /** true: CTAS / first-write may hand the query schema to a table that has
    * no manifest yet (an EXISTING table's manifest schema always wins). */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = GraftDataSource.rootFrom(options)
    val v = GraftDataSource.versionFrom(root, options)
    val base = CowTable.structFromJson(
      CowTable.manifestHeaderAt(root, v).schemaJson)
    if (options.getBoolean("readChangeFeed", false))
      GraftTable.withCdfColumns(base)
    else base
  }

  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val root = GraftDataSource.rootFrom(options)
    // DDL `PARTITIONED BY (col)` arrives as an identity transform; only
    // relevant when this handle CREATES the table (an existing manifest's
    // partitionKey always wins)
    val ddlPart = partitioning.collectFirst {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
    }
    if (CowTable.currentVersionAt(root) > 0)
      new GraftTable(root, GraftDataSource.versionFrom(root, options),
        None, options, ddlPart)
    else // about-to-be-created (CTAS / first write): schema from the query
      new GraftTable(root, 0, Option(schema), options, ddlPart)
  }
}

object GraftTable {
  /** Change-feed read schema: the table's columns plus the CDF metadata
    * columns every feed row carries (Delta's contract: version, commit
    * timestamp, change type). */
  def withCdfColumns(base: StructType): StructType = base
    .add("_commit_version", org.apache.spark.sql.types.IntegerType,
      nullable = false)
    .add("_commit_timestamp", org.apache.spark.sql.types.TimestampType,
      nullable = false)
    .add("_change_type", org.apache.spark.sql.types.StringType,
      nullable = false)

  /** Name of the per-row data-file metadata column. */
  val FileColumnName = "_file"

  object FileMetadataColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = FileColumnName
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.StringType
    override def isNullable: Boolean = false
    override def comment(): String = "absolute path of the row's data file"
  }

  /** Name of the per-row position-in-file metadata column — together with
    * `_file` it is the ROW ID of the delta-based (deletion-vector) row-level
    * path ([[GraftDvRowLevelOperation]]): a sidecar marks exactly
    * (`_file`, `_pos`) pairs. Row-reader only (a running per-file counter
    * has no columnar constant-vector form — scans requesting it force row
    * mode). */
  val PosColumnName = "_pos"

  object PosMetadataColumn
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
    override def name(): String = PosColumnName
    override def dataType(): org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "row position within the row's data file"
  }
}

object GraftDataSource {
  private[sources] def rootFrom(options: CaseInsensitiveStringMap): Path = {
    val p = Option(options.get("path"))
      .orElse(Option(options.get("location")))
      .getOrElse(throw new IllegalArgumentException(
        "graft: a table root is required " +
          "(load(<root>) / option(\"path\", ...) / LOCATION '<root>')"))
    Paths.get(p.stripPrefix("file:")).toAbsolutePath
  }

  /** Resolve the version to read: explicit versionAsOf > timestampAsOf >
    * current. Mirrors [[CowTable.readVersion]]'s guards too — an out-of-range
    * versionAsOf or a vacuumed version fails LOUDLY at planning time, not as
    * a FileNotFound halfway through the scan. */
  private[sources] def versionFrom(
      root: Path, options: CaseInsensitiveStringMap): Int = {
    val cur = CowTable.currentVersionAt(root)
    require(cur > 0, s"graft: no table at $root (no committed manifests)")
    val v = Option(options.get("versionAsOf")).map { s0 =>
      val s = s0.trim
      if (s.matches("-?\\d+")) s.toInt
      else CowTable.tagsAt(root).getOrElse(s, // tag ref (Iceberg VERSION AS OF '<tag>')
        throw new IllegalArgumentException(
          s"graft: no tag '$s' at $root (tags: " +
            s"${CowTable.tagsAt(root).keys.toSeq.sorted.mkString(", ")})"))
    }.getOrElse(timestampMs(options, "timestampAsOf")
      .fold(cur)(CowTable.versionAsOfAt(root, _)))
    require(v >= 1 && v <= cur,
      s"graft: versionAsOf $v out of range 1..$cur at $root")
    val earliest = CowTable.earliestReadableAt(root)
    require(v >= earliest,
      s"graft: version $v was vacuumed (earliest readable: $earliest)")
    v
  }

  /** A timestamp read option (`timestampAsOf`, `startingTimestamp`,
    * `endingTimestamp`) as epoch millis: epoch millis OR a timestamp/date
    * string (Delta accepts both; strings are UTC wall-clock like the commit
    * stamps, a date is its midnight). */
  private[sources] def timestampMs(
      options: CaseInsensitiveStringMap, key: String): Option[Long] =
    Option(options.get(key)).map(_.trim).map { s =>
      if (s.matches("-?\\d+")) s.toLong
      else {
        val ldt =
          try java.time.LocalDateTime.parse(s.replace(' ', 'T'))
          catch {
            case _: java.time.format.DateTimeParseException =>
              java.time.LocalDate.parse(s).atStartOfDay()
          }
        ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      }
    }
}

final class GraftTable(
    root: Path, version: Int, externalSchema: Option[StructType],
    props: CaseInsensitiveStringMap, ddlPartition: Option[String] = None)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
  with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** HEADER manifest — every field except the file list, O(one small
    * JSON) regardless of table size ([[CowTable.manifestHeaderAt]]).
    * Table resolution, schema, and scan-builder construction run off this
    * alone; the FULL fold ([[mOpt]]) is forced only by paths that need
    * the complete list (row-level ops, metadata-only DELETE), so a
    * partition/key-pruned COLD scan never materializes it. */
  private val mHead: Option[CommitManifest] =
    if (version > 0) Some(CowTable.manifestHeaderAt(root, version)) else None
  private lazy val mOpt: Option[CommitManifest] =
    if (version > 0) Some(CowTable.manifestAt(root, version)) else None
  private val tableSchema: StructType =
    mHead.map(m => CowTable.structFromJson(m.schemaJson))
      .orElse(externalSchema)
      .getOrElse(throw new IllegalArgumentException(
        s"graft: no table at $root and no schema provided"))

  /** Key/partition config: the manifest's for an existing table; for a table
    * this write CREATES, the `primaryKey` / `partitionKey` options
    * (comma-separated columns; `CREATE TABLE ... OPTIONS (primaryKey 'k')`),
    * defaulting to the first column — stats/pruning metadata only, results
    * are never affected. */
  private def primaryKey: Seq[String] = mHead.map(_.primaryKey).getOrElse {
    Option(props.get("primaryKey")) match {
      case Some(ks) => ks.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => tableSchema.fields.headOption.map(_.name).toSeq
    }
  }
  private def partitionKey: Option[String] =
    mHead.map(_.partitionKey).getOrElse(
      Option(props.get("partitionKey")).orElse(ddlPartition))

  /** Was this handle opened at an explicit historical version? Writing
    * through it would silently drop later commits — reject loudly. */
  private def timeTravel: Boolean =
    props.containsKey("versionAsOf") || props.containsKey("timestampAsOf")

  /** The PARTITION TRANSFORM this table is hidden-partitioned by, if any —
    * what [[TransformRecompute]] keys on to re-derive the generated column
    * inside SQL/connector writes. */
  private[sources] def transformSpec
      : Option[graft.storage.PartitionTransform] =
    mHead.flatMap(_.partitionSpec)
      .map(graft.storage.PartitionTransform.parse)

  // SQL/connector writes on this table need the session rules (generated-
  // column recompute; MERGE source bounds): installing at TABLE RESOLUTION
  // (analysis) guarantees they are in place before this very statement
  // optimizes, extensions or not.
  scala.util.Try(GraftSessionRules.ensureInstalled(
    org.apache.spark.sql.SparkSession.active)): Unit

  /** Change-feed streaming read (`option("readChangeFeed","true")`):
    * the schema grows the CDF metadata columns and scans route to the
    * change-feed micro-batch planner. */
  private def cdfRead: Boolean =
    props.getBoolean("readChangeFeed", false)

  /** No backticks: Spark renders this name inside SQL-identifier error
    * messages (e.g. TOO_MANY_DATA_COLUMNS), and embedded quoting makes the
    * real error unreadable (INVALID_ATTRIBUTE_NAME_SYNTAX). */
  override def name(): String = s"graft:$root@v$version"
  override def schema(): StructType =
    if (cdfRead) GraftTable.withCdfColumns(tableSchema) else tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ,
      // opts `MERGE WITH SCHEMA EVOLUTION` into the analyzer's
      // ResolveMergeIntoSchemaEvolution: source-only columns become
      // alterTable(AddColumn) TableChanges against the owning catalog (the
      // reference's CDC batch ADDS last_applied_date and the target gains
      // it — src/hudi/hudi-cdc-load.py:94-95, Delta autoMerge
      // src/delta/delta-initial-load.py:33). Evolution stays opt-in per
      // statement; a plain MERGE with an unknown column is still an
      // analysis error, and non-ADD changes are rejected by alterTable.
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION,
      // partition-scoped INSERT OVERWRITE: static (PARTITION (pk=v) →
      // overwrite-by-filter) and dynamic (partitionOverwriteMode=dynamic)
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)

  /** Declared table partitioning: the hive partition column as an identity
    * transform — what lets SQL address `PARTITION (pk = v)` in INSERT
    * OVERWRITE and routes dynamic-mode overwrites to
    * [[GraftWriteBuilder.overwriteDynamicPartitions]]. Hidden-partitioning
    * tables report their GENERATED column (the layout truth); every write
    * path re-derives it (TransformRecompute for batch plans, the bound
    * writer expression for streaming epochs). */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    partitionKey.map(k =>
      org.apache.spark.sql.connector.expressions.Expressions
        .identity(k)).toArray

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val m = mHead.getOrElse(throw new IllegalArgumentException(
      s"graft: no table at $root (no committed manifests)"))
    // columnar vectorized read by default; option("columnar","false") (or the
    // same table property) falls back to the row-oriented Group reader
    val columnar = Seq(Option(options.get("columnar")),
      Option(props.get("columnar"))).flatten.headOption
      .forall(_.trim.toBoolean)
    // TIMESTAMP window options (Delta CDF parity): resolved here against
    // commit times, so both the batch feed and the streaming source see
    // plain versions. Timestamps are UTC wall-clock (commit stamps are
    // epoch millis); version + timestamp for the same bound conflict loud.
    val startTs = GraftDataSource.timestampMs(options, "startingTimestamp")
    val endTs = GraftDataSource.timestampMs(options, "endingTimestamp")
    require(startTs.isEmpty || Option(options.get("startingVersion")).isEmpty,
      s"graft: startingVersion and startingTimestamp conflict on $root")
    require(endTs.isEmpty || Option(options.get("endingVersion")).isEmpty,
      s"graft: endingVersion and endingTimestamp conflict on $root")
    // streaming-read options (ignored by batch scans)
    val streamOpts = GraftStreamOptions(
      startingVersion = Option(options.get("startingVersion"))
        .map(_.trim.toInt)
        .orElse(startTs.map(CowTable.versionAtOrAfter(root, _)))
        .getOrElse(0),
      ignoreChanges = Option(options.get("ignoreChanges"))
        .exists(_.trim.toBoolean),
      maxCommitsPerBatch = Option(options.get("maxCommitsPerBatch"))
        .map(_.trim.toInt),
      maxRowsPerBatch = Option(options.get("maxRowsPerBatch"))
        .map(_.trim.toLong),
      maxBytesPerBatch = Option(options.get("maxBytesPerBatch"))
        .map(_.trim.toLong),
      readChangeFeed = cdfRead,
      endingVersion = Option(options.get("endingVersion"))
        .map(_.trim.toInt)
        .orElse(endTs.map(CowTable.versionAsOfAt(root, _))))
    new GraftScanBuilder(root, m, schema(), columnar, streamOpts,
      filesSrc = graft.storage.ManifestFiles.lazyAt(root, version))
  }

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    if (timeTravel) throw new UnsupportedOperationException(
      s"graft: cannot write through a time-travel read of $root " +
        "(versionAsOf/timestampAsOf) — writes target the current version")
    // hidden-partitioning tables: BATCH writes re-derive the generated
    // column via [[TransformRecompute]] before the write plans (installed
    // at table resolution above); STREAMING writes re-derive it per row in
    // the writer (GraftWriteBuilder.toStreaming binds the transform
    // expression — epoch plans bypass the batch optimizer).
    new GraftWriteBuilder(root, version, tableSchema, primaryKey,
      partitionKey, info,
      transformSpec = mHead.flatMap(_.partitionSpec))
  }

  /** `_file`: which data file a row lives in. Queryable (`SELECT _file`),
    * and REQUIRED plumbing for row-level operations — declaring a metadata
    * attribute routes ReplaceData through Spark's projecting write task, the
    * path that strips the internal `__row_operation` column before rows
    * reach the [[GraftDataWriter]] (without it the raw operation column
    * arrives ordinal-shifted). Same design as the reference formats' file
    * metadata columns. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(GraftTable.FileMetadataColumn, GraftTable.PosMetadataColumn)

  /** SQL MERGE INTO / UPDATE / DELETE. Group-based copy-on-write rewrite by
    * default ([[GraftRowLevelOperation]]); EVERY row-level command on a
    * deletion-vector table routes through the DELTA-BASED path
    * ([[GraftDvRowLevelOperation]]) — positions marked in a sidecar,
    * updated/inserted rows written fresh, O(affected rows) instead of
    * O(touched file bytes), no data file ever rewritten. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (timeTravel) throw new UnsupportedOperationException(
      s"graft: cannot mutate a time-travel read of $root")
    val m = mOpt.getOrElse(throw new IllegalArgumentException(
      s"graft: no table at $root (no committed manifests)"))
    // hidden-partitioning tables flow through: the replacement rows'
    // generated column is re-derived by [[TransformRecompute]] (installed
    // at table resolution), and the row-level write already clusters and
    // hive-lays-out on m.partitionKey — the generated column itself.
    // DV tables route EVERY command (incl. MERGE since round 13) through
    // the delta path: positions sidecar + fresh update/insert files, no
    // data-file rewrite ever.
    if (m.deletionVectors)
      new GraftDvRowLevelOperationBuilder(root, version, m, tableSchema, info)
    else
      new GraftRowLevelOperationBuilder(root, version, m, tableSchema, info)
  }

  /** METADATA-ONLY DELETE (`SupportsDeleteV2` via the V1-filter flavor).
    * Spark's `OptimizeMetadataOnlyDeleteFromTable` (preCBO) offers every
    * rewritten DELETE's condition here first: accept iff the conjunction
    * decides EVERY file All-or-No from manifest metadata alone
    * ([[MetadataDelete]] — partition path values, hidden-partition
    * transform intervals, file min/max stats, null counts). Accepted ⇒
    * the whole statement becomes [[CowTable.metadataDeleteFiles]]'s single
    * manifest CAS — zero data jobs, the retention-job shape (`DELETE WHERE
    * day < X`) Iceberg/Delta answer in O(metadata). Declined ⇒ Spark keeps
    * the ordinary row-level rewrite: a decline is never wrong, only
    * slower. `TRUNCATE TABLE` rides the same path (the inherited default
    * passes `AlwaysTrue`, which covers every file). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    !timeTravel && mOpt.exists(m => scala.util.Try(
      MetadataDelete.coveredFiles(m, tableSchema, filters.toIndexedSeq)
        .isDefined).getOrElse(false))

  override def deleteWhere(filters: Array[Filter]): Unit = {
    if (timeTravel) throw new UnsupportedOperationException(
      s"graft: cannot mutate a time-travel read of $root")
    // re-evaluate against the CURRENT manifest (the handle may predate a
    // concurrent commit); coverage lost in between fails loud rather than
    // silently deleting the wrong files
    val cur = CowTable.manifestAt(root, CowTable.currentVersionAt(root))
    val covered = MetadataDelete.coveredFiles(
      cur, CowTable.structFromJson(cur.schemaJson), filters.toIndexedSeq)
      .getOrElse(throw new IllegalStateException(
        s"graft: metadata-only DELETE on $root is no longer decidable " +
          s"from metadata at v${cur.version} (concurrent commit?) — " +
          "re-run the DELETE"))
    // commit pinned at parent=cur.version: a commit interleaving between
    // the coverage read above and this publish trips the hard-link CAS
    // (ConcurrentWriteException) instead of silently dropping a stale
    // file set on top of the newer manifest
    CowTable(org.apache.spark.sql.SparkSession.active, root.toString,
      cur.tableConfig(root.getFileName.toString))
      .metadataDeleteFiles(covered.map(_.path).toSet,
        expectedParent = Some(cur.version)): Unit
  }
}

final class GraftScanBuilder(
    root: Path, m: CommitManifest, fullSchema: StructType,
    columnar: Boolean = true,
    streamOpts: GraftStreamOptions = GraftStreamOptions(),
    /** Late-bound candidate-file set ([[MergeSourcePrune]] via
      * [[SourceBoundedRowLevelOp]]): evaluated at partition-planning time,
      * AFTER the optimizer rule ran its source-bounds job. None ⇒ no extra
      * pruning. Only row-level operations pass a real thunk. */
    dynamicKeep: () => Option[Set[String]] = () => None,
    /** Lazy file-list source (predicate-pruned cold planning over parquet
      * checkpoints). Null ⇒ wrap the resolved manifest's list (row-level
      * ops, tests) — the pre-r18 behavior. */
    filesSrc: graft.storage.ManifestFiles = null)
  extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownTopN
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  private val mfiles: graft.storage.ManifestFiles =
    Option(filesSrc).getOrElse(graft.storage.ManifestFiles.eager(m.files))

  private var required: StructType = fullSchema
  private var pushedAgg: Option[ManifestAgg.Answer] = None
  private var allPushed: Seq[Filter] = Nil
  /** The pushed filters, compiled once into the per-file evaluator the
    * scan, its micro-batch stream and aggregate pushdown share. */
  private var pred: FilePredicate = FilePredicate(m, fullSchema, Nil)

  private lazy val transform: Option[PartitionTransform] =
    m.partitionSpec.map(PartitionTransform.parse)

  private def numericStat(c: String): Boolean =
    fullSchema.find(_.name == c).map(_.dataType)
      .exists(FilePredicate.numericStat)

  // true when a partition filter was CONSUMED (not returned as residual) —
  // the streaming path then fails loud on any file it cannot attribute to
  // a partition value instead of conservatively keeping it
  private var consumedPartFilter: Boolean = false

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pred = FilePredicate(m, fullSchema, filters.toSeq)
    // EVERYTHING Spark offered, for row-group skipping: a conjunct the
    // MANIFEST can't use (equality on an undeclared column) still prunes
    // row groups via footer stats — per-file typed conversion declines
    // whatever doesn't apply ([[ParquetRowGroupFilter]])
    allPushed = filters.toSeq
    // EXACT CONSUMPTION of whole-conjunct partition filters: a top-level
    // `pk = v` / `pk IN (...)` is fully answered by path pruning when
    // EVERY file carries a path-borne partition value (a file's rows all
    // share its directory value, and a null-partition file never matches
    // a non-null literal) — consuming it empties the residual, which is
    // what lets Spark attempt aggregate pushdown on a partition-scoped
    // metadata query (`COUNT(*) WHERE pk = v [GROUP BY pk]` from the
    // manifest). Files without a path value (old layout after
    // partition-spec evolution) keep everything residual — pruning that
    // KEEPS such files conservatively must stay re-checked by Spark.
    // Key-range and stats filters always stay residual.
    val allPathed = m.allPathed.getOrElse( // header summary; else force
      m.partitionKey.isDefined && mfiles.full.nonEmpty &&
        mfiles.full.forall(e =>
          GraftScan.pathPartValue(m.partitionKey, e).isDefined))
    // `pk IS NOT NULL` rides along: Spark splits `pk = v` into
    // IsNotNull(pk) AND EqualTo(pk, v) — a residual IsNotNull would block
    // aggregate pushdown; sentinel-dir pruning answers it exactly
    val consumable: Set[Filter] =
      if (streamOpts.readChangeFeed || !allPathed) Set.empty
      else filters.filter(pred.pathExact).toSet
    consumedPartFilter = consumable.nonEmpty
    filters.filterNot(consumable) // the rest stays residual (exactness)
  }

  override def pushedFilters(): Array[Filter] = pred.pushed.toArray

  /** The files an aggregation ranges over. Spark attempts aggregate
    * pushdown only when no residual filter remains, so every pushed filter
    * is a CONSUMED partition filter (consumption invariant: every file
    * carries a path value) and the evaluator answers it exactly. Partition-
    * scoped metadata queries (`COUNT(*) WHERE pk = v`) plan from the
    * PRUNED checkpoint read, a conservative superset the evaluator trims. */
  private def aggScopeFiles: Seq[FileEntry] =
    mfiles.pruned(pred.ckptPred).filter(pred.keeps)

  /** [[ManifestAgg]]'s answer, memoized per Aggregation: Spark asks
    * `supportCompletePushDown` and `pushAggregation` about the same object.
    * Change-feed reads aggregate change HISTORY, never pushed. */
  private var aggMemo: Option[(Aggregation, Option[ManifestAgg.Answer])] =
    None
  private def aggAnswer(agg: Aggregation): Option[ManifestAgg.Answer] =
    aggMemo match {
      case Some((a, r)) if a eq agg => r
      case _ =>
        val r =
          if (streamOpts.readChangeFeed) None
          else ManifestAgg.evaluate(agg, m, fullSchema, aggScopeFiles)
        aggMemo = Some((agg, r))
        r
    }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    aggAnswer(agg).exists(_.isLeft)

  override def pushAggregation(agg: Aggregation): Boolean = {
    pushedAgg = aggAnswer(agg)
    pushedAgg.isDefined
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private var topNPush: Option[GraftTopN] = None
  private var limitPush: Option[Int] = None

  /** TopN pushdown — PRUNING-ONLY (always partial): accept when the first
    * sort key is the leading primary-key column or a declared stats column,
    * so [[TopNFilePrune]] can certify a threshold from manifest bounds and
    * drop files no top-k row can live in. Any other shape declines (no
    * pruning beats wrong pruning); Spark keeps the full sort+limit either
    * way, so acceptance never changes results — only bytes read. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, NullOrdering}
    if (streamOpts.readChangeFeed || limit <= 0 || orders.isEmpty)
      return false
    val col = orders.head.expression() match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        nr.fieldNames.head
      case _ => return false
    }
    val isPk = m.primaryKey.headOption.contains(col)
    val phys = m.physicalName(col)
    val statted = m.stattedPhys match {
      case Some(sp) => sp.contains(phys)
      case None => mfiles.full.exists(_.extra.contains(phys))
    }
    // hidden partitioning: the transform SOURCE column is orderable from
    // partition-dir intervals (day/hour/month/year over temporal types —
    // the same evidence metadata-delete trusts), numeric stat space
    val viaTransform = transform.exists(tr => tr.source == col &&
      Set("day", "month", "hour", "year")(tr.kind)) && numericStat(col)
    if (!isPk && !statted && !viaTransform) return false
    topNPush = Some(GraftTopN(
      col, phys, isPk,
      numeric = if (isPk) m.keyNumeric else numericStat(col),
      desc = orders.head.direction() == SortDirection.DESCENDING,
      nullsFirst = orders.head.nullOrdering() == NullOrdering.NULLS_FIRST,
      limit = limit, viaTransform = viaTransform && !isPk,
      srcType = fullSchema.find(_.name == col).map(_.dataType)))
    true
  }

  /** Bare-LIMIT pushdown — keep manifest-order files until their exact
    * live-row sum covers the limit (any rows satisfy an unordered LIMIT).
    * Always partial: Spark's own Limit stays on top. */
  override def pushLimit(limit: Int): Boolean = {
    if (streamOpts.readChangeFeed || limit <= 0) return false
    limitPush = Some(limit)
    true
  }

  /** The scan stays a superset source — Spark must keep the sort/limit. */
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan = {
    pushedAgg.foreach {
      case Left((schema, groupRows)) =>
        return new Scan with org.apache.spark.sql.connector.read.LocalScan {
          override def readSchema(): StructType = schema
          override def rows()
              : Array[org.apache.spark.sql.catalyst.InternalRow] =
            groupRows.map(vs => new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(vs): org.apache.spark.sql.catalyst.InternalRow)
              .toArray
          override def description(): String =
            s"graft manifest-agg pushdown v${m.version} " +
              s"(${groupRows.size} group rows, 0 files read)"
        }
      case Right(p) => return new GraftPartialAggScan(root, m, p)
    }
    required.fields.foreach { f =>
      f.dataType match {
        case _: StructType | _: ArrayType | _: MapType =>
          throw new UnsupportedOperationException(
            s"graft DSv2 reader supports flat primitive schemas; column " +
              s"${f.name} is ${f.dataType.simpleString}. Read nested tables " +
              "through CowTable.read().")
        case _ => ()
      }
    }
    new GraftScan(root, m, required, pred, columnar, streamOpts,
      consumedPartFilter, dynamicKeep, topNPush, limitPush,
      pushedSource = allPushed,
      filesSrc = mfiles)
  }
}

final case class GraftInputPartition(
    filePath: String, partitionValues: Map[String, String],
    /** Deletion-vector ref: (abs sidecar dir, root-relative file path) —
      * the reader subtracts the file's marked positions at open. */
    dv: Option[(String, String)] = None)
  extends InputPartition

/** All of one partition VALUE's files as a single input partition — the
  * unit of [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]:
  * `partitionKey()` exposes the typed value, letting Spark co-locate two
  * graft tables partitioned on the same column and join them with ZERO
  * shuffle (storage-partitioned join). Only planned when
  * `spark.sql.sources.v2.bucketing.enabled` is on — grouping trades scan
  * parallelism (one task per value) for exchange elimination, which is the
  * right trade only when a join will exploit it. */
final case class GraftGroupedPartition(
    files: Seq[String], partitionValues: Map[String, String],
    keyRow: org.apache.spark.sql.catalyst.InternalRow,
    /** Per-file deletion-vector refs keyed by abs file path. */
    dv: Map[String, (String, String)] = Map.empty)
  extends InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    keyRow
}

object GraftScan {
  /** The hive null-partition directory value (post-unescape) — canonical
    * constant lives with the storage layer (checkpoint index sharing). */
  private[sources] val NullPartitionName: String = CowTable.NullPartitionName

  /** Hive path-segment decode: the EXACT inverse of the escaping both
    * writers use (`ExternalCatalogUtils.escapePathName`, same as Spark's
    * partitioned writes). URLDecoder is NOT that inverse — it turns a
    * literal `+` into a space, silently corrupting round-tripped values
    * and mispruning partition filters. */
  private[sources] def unescapeSeg(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(s)

  /** Hive partition value sitting in a file's path, if any (files written
    * without partition directories — e.g. pre-r6 DSv2 writers — have none
    * and are never partition-pruned). */
  private[sources] def pathPartValue(
      partitionKey: Option[String], e: FileEntry): Option[String] =
    CowTable.pathPartValue(partitionKey, e) // one derivation, shared with
  // the checkpoint index columns and commit-time header summaries

  /** All `k=v` hive segments of a relative file path (partition values live
    * in the path, not the file). */
  private[sources] def hivePathValues(path: String): Map[String, String] =
    path.split('/').dropRight(1).filter(_.contains('='))
      .map { seg =>
        val i = seg.indexOf('=')
        seg.substring(0, i) -> unescapeSeg(seg.substring(i + 1))
      }.toMap

  /** Single-attribute IN / = V2 predicate → (column, non-null values);
    * anything else → None (ignored — conjunctive predicates may each prune
    * independently, and ignoring one only keeps extra files). NULLs disable
    * pruning: file stats cannot locate nulls. */
  private[sources] def inValues(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[(String, Seq[Any])] = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
    val vals = p.children().toSeq.collect { case l: V2Literal[_] => l.value() }
    val refs = p.children().toSeq.collect { case r: NamedReference => r }
    p.name() match {
      case "IN" | "=" if refs.size == 1 &&
        refs.head.fieldNames().length == 1 &&
        vals.size == p.children().length - 1 && !vals.contains(null) =>
        Some((refs.head.fieldNames().head, vals))
      case _ => None
    }
  }

  /** A partition-path value renders unambiguously for these types only —
    * anything else must not prune against the hive directory name. */
  private[sources] def pathRenderableValue(v: Any): Boolean = v match {
    case _: String | _: org.apache.spark.unsafe.types.UTF8String |
         _: java.lang.Integer | _: java.lang.Long |
         _: java.lang.Short | _: java.lang.Byte | _: java.lang.Boolean => true
    case _ => false
  }

  /** Stat-string space ↔ Catalyst internal value, EXACT for these types
    * only (shared by aggregate pushdown and CBO column statistics):
    * numerics round-trip, temporal stats are already the internal
    * micros/days representation. */
  private[sources] def statDecodable(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.FloatType |
         org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => true
    case _ => false
  }

  /** Hidden-partitioning TopN evidence: files without footer stats for the
    * transform SOURCE column borrow their partition-dir interval as bounds
    * (valid bounds by writer attribution: every row of a `ts_day=d` file
    * has a non-null ts inside day `d`, so the null count is exactly 0).
    * Null-dir / pathless / unparseable files stay untouched (statless ⇒
    * kept). Returns prune-only COPIES — callers must not plan them. */
  private[sources] def withTransformBounds(
      m: graft.storage.CommitManifest, files: Seq[FileEntry],
      t: GraftTopN): Seq[FileEntry] = {
    val tr = m.partitionSpec.flatMap(s =>
      scala.util.Try(PartitionTransform.parse(s)).toOption)
      .getOrElse(return files)
    val srcType = t.srcType.getOrElse(return files)
    files.map { e =>
      if (e.extra.contains(t.phys)) e
      else pathPartValue(m.partitionKey, e)
        .filter(_ != NullPartitionName)
        .flatMap(pv => FilePredicate.sourceInterval(tr, srcType, pv))
        .fold(e) { case (lo, hi) =>
          e.copy(
            extra = e.extra +
              (t.phys -> graft.storage.ColRange(
                Some(lo.toString), Some(hi.toString))),
            nulls = e.nulls + (t.phys -> 0L))
        }
    }
  }

  private[sources] def statDecode(
      dt: org.apache.spark.sql.types.DataType, s: String): Any = dt match {
    case org.apache.spark.sql.types.LongType => s.toLong
    case org.apache.spark.sql.types.IntegerType => s.toInt
    case org.apache.spark.sql.types.ShortType => s.toShort
    case org.apache.spark.sql.types.ByteType => s.toByte
    case org.apache.spark.sql.types.DoubleType => s.toDouble
    case org.apache.spark.sql.types.FloatType => s.toFloat
    case org.apache.spark.sql.types.DateType => s.toLong.toInt // epoch days
    case _ => s.toLong // timestamps: internal rep IS epoch micros
  }
}

final class GraftScan(
    root: Path, m: CommitManifest, required: StructType,
    /** The pushed filters, compiled ([[FilePredicate]]): files answering
      * `No` are skipped. */
    pred: FilePredicate,
    columnar: Boolean = true,
    streamOpts: GraftStreamOptions = GraftStreamOptions(),
    /** A partition filter was consumed (not residual): pruning must stay
      * EXACT — the streaming path fails loud on an unattributable file
      * instead of keeping it. */
    exactPartPrune: Boolean = false,
    /** Late-bound candidate set (source-bounded MERGE prune): consulted at
      * partition-planning time, same soundness contract as runtime
      * filtering — only drops files the merge source cannot reach. */
    dynamicKeep: () => Option[Set[String]] = () => None,
    /** Pushed TopN (partial): prune files no top-k row can live in —
      * [[TopNFilePrune.pruneTopN]]'s certified-threshold rule. Spark only
      * pushes a TopN when no residual filter sits between it and the scan,
      * so the guarantee accumulation runs over exactly the scan's output
      * files (consumed partition filters prune EXACTLY and compose). */
    topN: Option[GraftTopN] = None,
    /** Pushed bare LIMIT (partial): manifest-order prefix covering the
      * limit in exact live rows. */
    pushedLimit: Option[Int] = None,
    /** Every pushed source filter, verbatim — fed to the columnar readers
      * for parquet ROW-GROUP skipping (per-file typed conversion,
      * pruning-only; see [[ParquetRowGroupFilter]]). */
    pushedSource: Seq[Filter] = Nil,
    /** Lazy file-list source — a cold pruned scan decodes only matching
      * checkpoint row groups ([[graft.storage.ManifestFiles]]). Null ⇒
      * wrap the manifest's resolved list (tests, row-level ops). */
    filesSrc: graft.storage.ManifestFiles = null)
  extends Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  /** Identity for [[MergeSourcePrune]]'s subquery-scan matching. */
  private[sources] def tableKey: (String, Int) = (root.toString, m.version)

  /** Second late-bound candidate set, SET (not thunked) by
    * [[MergeSourcePrune]] on the matching-rows subquery scan Spark's
    * runtime group filter builds over the PLAIN table — that scan has no
    * static predicates, so without this it reads the whole table to
    * discover matched groups. Same soundness as [[dynamicKeep]]. */
  @volatile private[sources] var extraKeep: Option[Set[String]] = None

  private def pathPartValue(e: FileEntry): Option[String] =
    GraftScan.pathPartValue(m.partitionKey, e)

  /** Planning-time pruning (the compiled pushed filters); runtime
    * filtering below may shrink it further before partitions are
    * planned. */
  private val mfiles: graft.storage.ManifestFiles =
    Option(filesSrc).getOrElse(graft.storage.ManifestFiles.eager(m.files))

  @volatile private var kept: Seq[FileEntry] = {
    // COLD pruned planning: the base list comes from a predicate-driven
    // checkpoint read when one applies — every entry it drops answers `No`
    // anyway, so the result is byte-identical to folding the full list
    // first. Change feeds read history, never a pruned snapshot.
    val base =
      if (streamOpts.readChangeFeed) mfiles.full
      else mfiles.pruned(pred.ckptPred)
    val matching = base.filter(pred.keeps)
    // TopN / LIMIT pruning runs LAST, over the final exact file set.
    // Hidden partitioning: files without footer stats for the sort column
    // borrow their partition-dir interval as bounds (prune decisions run
    // on enriched COPIES; the planned entries stay the originals).
    val topped = topN.fold(matching) { t =>
      val enriched =
        if (t.viaTransform) GraftScan.withTransformBounds(m, matching, t)
        else matching
      val keptPaths = TopNFilePrune.pruneTopN(enriched, t).map(_.path).toSet
      matching.filter(e => keptPaths(e.path))
    }
    pushedLimit.fold(topped)(TopNFilePrune.pruneLimit(topped, _))
  }

  /** RUNTIME file pruning — the dynamic-partition-pruning analog for
    * manifest-tracked files. A join against a filtered dimension hands the
    * scan an IN-subquery of the dim's join-key values at execution time;
    * files whose [min,max] stats (key columns) or hive path (partition
    * column) cannot contain any value are dropped before partitions are
    * planned. At 100 TB this is the difference between scanning a fact
    * table and scanning the handful of files a dimension slice touches.
    * Same contract as the row-level MERGE scan; predicates not understood
    * here are conjunctive extras — ignoring them keeps files, never drops
    * needed ones. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    val keyCols = m.primaryKey.take(2)
    (keyCols ++ m.partitionKey.filterNot(keyCols.contains)).distinct
      // Spark resolves these against the scan's (column-pruned) output —
      // advertising a projected-away column is an analysis error
      .filter(required.fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray
  }

  override def filter(
      predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    predicates.foreach { p =>
      GraftScan.inValues(p).foreach { case (colName, vals) =>
        val keyIdx = m.primaryKey.take(2).indexOf(colName)
        if (keyIdx >= 0)
          kept = CowTable.filesContainingAny(m.copy(files = kept), vals, keyIdx)
        else if (m.partitionKey.contains(colName) &&
            vals.forall(GraftScan.pathRenderableValue)) {
          val set = vals.map(String.valueOf(_)).toSet
          kept = kept.filter(e => pathPartValue(e).forall(set.contains))
        } // unrenderable partition value or unknown column: no pruning
      }
    }

  override def readSchema(): StructType = required

  /** Manifest-derived statistics for the PRUNED file set — what lets
    * Catalyst auto-broadcast a small graft table in a join (and shrink the
    * estimate further when partition/key pruning dropped files) without
    * opening a single data file at planning time: `bytes` rides in the
    * manifest. The reference formats all feed Spark's join planning the same way (Delta
    * add-file sizes / Iceberg manifests). */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    // a change-feed read's volume is the CHANGE history, not the snapshot —
    // reporting snapshot stats could under-size it into a broadcast. Unknown
    // is the safe answer (Spark falls back to conf defaults).
    if (streamOpts.readChangeFeed)
      return new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.empty()
      }
    val rowCount = kept.map(_.liveRows).sum
    val sizeBytes = kept.map(_.bytes).sum
    // COLUMN STATISTICS for CBO (estimates by contract — deletion vectors
    // may make ranges/null counts slightly stale-wide, which only makes
    // the optimizer conservative, never wrong):
    //  - leading PRIMARY KEY: ndv = live rows (unique by table contract),
    //    min/max folded from per-file footer stats;
    //  - statsColumns: min/max from the manifest ranges, null counts when
    //    every kept file carries one;
    //  - hive PARTITION column: ndv = distinct path values, null count =
    //    rows of the null-partition directory.
    // Feeds join reordering/sizing under spark.sql.cbo.* without any
    // ANALYZE TABLE pass — the manifest already knows.
    val colStats = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    def mk(ndv: Option[Long], mn: Option[Any], mx: Option[Any],
        nulls: Option[Long]) =
      new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
        override def distinctCount(): java.util.OptionalLong =
          ndv.fold(java.util.OptionalLong.empty())(
            java.util.OptionalLong.of)
        override def min(): java.util.Optional[Object] =
          mn.fold(java.util.Optional.empty[Object]())(v =>
            java.util.Optional.of(v.asInstanceOf[Object]))
        override def max(): java.util.Optional[Object] =
          mx.fold(java.util.Optional.empty[Object]())(v =>
            java.util.Optional.of(v.asInstanceOf[Object]))
        override def nullCount(): java.util.OptionalLong =
          nulls.fold(java.util.OptionalLong.empty())(
            java.util.OptionalLong.of)
      }
    val schema = m.schemaJson
    def dtOf(c: String) = CowTable.structFromJson(schema)
      .find(_.name == c).map(_.dataType)
    def fold(get: FileEntry => Option[String], dt:
        org.apache.spark.sql.types.DataType, isMin: Boolean): Option[Any] =
      scala.util.Try {
        val vs = kept.flatMap(get)
        if (vs.size != kept.size || vs.isEmpty) None
        else Some(GraftScan.statDecode(dt,
          if (isMin) vs.minBy(BigDecimal(_)) else vs.maxBy(BigDecimal(_))))
      }.toOption.flatten
    def nullsOf(phys: String): Option[Long] = {
      val ns = kept.flatMap(_.nulls.get(phys))
      if (ns.size == kept.size && kept.nonEmpty) Some(ns.sum) else None
    }
    if (!streamOpts.readChangeFeed && kept.nonEmpty) {
      m.primaryKey.headOption.foreach { pk =>
        dtOf(pk).filter(GraftScan.statDecodable).foreach { dt =>
          if (required.fieldNames.contains(pk))
            colStats.put(
              org.apache.spark.sql.connector.expressions.Expressions
                .column(pk),
              mk(Some(rowCount), fold(_.minKey, dt, isMin = true),
                fold(_.maxKey, dt, isMin = false),
                nullsOf(m.physicalName(pk))))
        }
      }
      m.statsColumns.filterNot(m.primaryKey.headOption.contains)
        .filter(required.fieldNames.contains).foreach { c =>
          val phys = m.physicalName(c)
          // merged per-file KMV sketches ([[TableConfig.ndvSketch]]):
          // exact over whatever file subset pruning kept — what gives
          // CBO join-reorder-grade NDV on non-key columns. Independent of
          // min/max decodability (a STRING column has a valid NDV even
          // though its extrema never report — truncation-unsafe).
          val ndv: Option[Long] =
            if (kept.nonEmpty && kept.forall(_.ndv.contains(phys))) {
              val merged = kept.map(_.ndv(phys).toArray)
                .reduce(graft.functions.KmvSketch
                  .mergeSorted(_, _, CowTable.NdvK))
              Some(math.round(graft.functions.KmvSketch
                .estimate(merged.toSeq, CowTable.NdvK)))
            } else None
          val dt = dtOf(c).filter(GraftScan.statDecodable)
          if (dt.isDefined || ndv.isDefined)
            colStats.put(
              org.apache.spark.sql.connector.expressions.Expressions
                .column(c),
              mk(ndv,
                dt.flatMap(d => fold(_.extra.get(phys).flatMap(_.mn), d,
                  isMin = true)),
                dt.flatMap(d => fold(_.extra.get(phys).flatMap(_.mx), d,
                  isMin = false)),
                nullsOf(phys)))
        }
      m.partitionKey.filter(required.fieldNames.contains).foreach { pc =>
        val vals = kept.map(e => GraftScan.pathPartValue(m.partitionKey, e))
        if (!vals.contains(None)) {
          val nullRows = kept.zip(vals.flatten)
            .filter(_._2 == GraftScan.NullPartitionName).map(_._1.liveRows)
          colStats.put(
            org.apache.spark.sql.connector.expressions.Expressions
              .column(pc),
            mk(Some(vals.flatten.distinct.size.toLong), None, None,
              Some(nullRows.sum)))
        }
      }
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(sizeBytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rowCount)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  /** Surfaces the manifest-level skip in `explain()`: files=<kept>/<total>.
    * The denominator forces the full fold — explain is a debugging path;
    * planning itself never pays it on a pruned cold scan. */
  override def description(): String =
    s"graft $root v${m.version} files=${kept.size}/${mfiles.full.size}" +
      s" keyRangeFilters=${pred.keyRangeFilters}" +
      s" partitionFilterValues=${pred.partitionFilterValues}" +
      s" statsColFilters=${pred.statsColFilters}" +
      s" nullFilters=${pred.nullFilters}" +
      (if (pred.priorEraFilters > 0)
        s" priorEraFilters=${pred.priorEraFilters}" else "") +
      topN.fold("")(t => s" pushedTopN=${t.col} " +
        s"${if (t.desc) "DESC" else "ASC"} LIMIT ${t.limit}") +
      pushedLimit.fold("")(l => s" pushedLimit=$l") +
      (if (pushedSource.nonEmpty)
        s" rowGroupFilterConjuncts=${pushedSource.size}" else "") +
      s" columnar=$columnar"

  /** Batch CDF read (Delta `spark.read.option("readChangeFeed","true")`
    * parity): `startingVersion` (INCLUSIVE, Delta's convention; default =
    * from the first commit) to `endingVersion` (inclusive, default the
    * scan's resolved version — `versionAsOf` caps the feed, and an
    * explicit `endingVersion` past the pin is rejected as contradictory).
    * Partitions come from the shared change-feed planner: materialized
    * `_cdc` files for mutation commits, added data files (constant
    * `insert` columns) for appends; rewrites without change files fail
    * loudly. Pushed filters stay residual, so skipping never affects feed
    * exactness. */
  override def toBatch: Batch = {
    if (!streamOpts.readChangeFeed) return this
    val endV = streamOpts.endingVersion.getOrElse(m.version)
    require(endV <= m.version,
      s"graft: endingVersion $endV is beyond the read version " +
        s"${m.version} of $root (versionAsOf pins the feed's end)")
    // inclusive option → the planner's exclusive-from offset
    val startV = math.max(0, streamOpts.startingVersion - 1)
    require(startV >= 0 && endV <= CowTable.currentVersionAt(root) &&
      startV <= endV,
      s"graft: bad change-feed range ($startV, $endV] for $root")
    val earliest = CowTable.earliestReadableAt(root)
    require(startV + 1 >= earliest,
      s"graft: change-feed start $startV predates the earliest readable " +
        s"version $earliest (older history was vacuumed)")
    new Batch {
      // planned once (the range is pinned): a drop-only commit's dropped
      // files may carry deletion vectors, which need the position-skipping
      // row reader — the factory must know before Spark fixes the mode
      private lazy val parts: Array[InputPartition] =
        GraftCdf.partitions(root, startV, endV, "graft batch feed",
          "re-read from a retained version via " +
            "option(\"startingVersion\", ...)")
      override def planInputPartitions(): Array[InputPartition] = parts
      override def createReaderFactory(): PartitionReaderFactory = {
        // partition-spec evolution: feed files from RETIRED eras carry
        // neither the current generated column nor its path value —
        // the augmented columnar reader derives it per batch (and handles
        // dropped files carrying their parent's deletion vector), so the
        // feed keeps vectorized decode
        val gf = GenFill.forScan(m, required, mfiles.full,
          force = m.priorSpecs.nonEmpty)
        // same `_pos` guard as the batch-scan factory: the columnar reader
        // has no per-file running-position vector, so a feed read selecting
        // `_pos` must take row mode or positions silently read as NULL
        new GraftReaderFactory(required, columnar &&
          !required.fieldNames.contains(GraftTable.PosColumnName),
          m.columnMapping, genFill = gf)
      }
    }
  }

  /** Incremental micro-batch read over the commit log (see
    * [[GraftMicroBatchStream]]). The compiled pushed filters prune each
    * batch's files; the checkpoint location is engine-managed (offsets only —
    * the table's own manifests are the source of truth). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(
      root, required, columnar, pred, streamOpts, exactPartPrune)

  /** The file set as of PLANNING time. Key-grouped planning must derive its
    * partition-VALUE list from this snapshot, not from the runtime-pruned
    * `kept`: Spark captures `KeyGroupedPartitioning(numPartitions)` when the
    * plan is built, and `BatchScanExec` demands the data source "preserve
    * the original partitioning during runtime filtering" — a runtime
    * IN-filter that drops every file of one partition value must therefore
    * yield an EMPTY group for that value, not a shorter group list (the same
    * reason Iceberg keeps empty groups under SPJ). */
  private val planned: Seq[FileEntry] = kept

  /** Files grouped by partition value, iff a storage-partitioned join can
    * use the grouping: the table is hive-partitioned, v2 bucketing is on,
    * the partition column survives column pruning (the clustering
    * expression must resolve against the scan output), every kept file has
    * a path-borne value, and the value parses as the declared type. Any
    * miss ⇒ None ⇒ plain per-file planning — never a wrong grouping.
    * Group VALUES come from the planning-time snapshot (stable across
    * runtime filtering); group MEMBERS come from the current `kept`, so a
    * fully-pruned value shows up as an empty group. */
  private def keyGroups: Option[Seq[(String, Seq[FileEntry])]] = {
    // a change-feed batch plans its OWN partitions (GraftCdf) — advertising
    // snapshot-derived key groups here would promise a partitioning the
    // feed scan does not deliver (wrong SPJ co-location, wrong join output)
    if (streamOpts.readChangeFeed) return None
    val pk = m.partitionKey.getOrElse(return None)
    val bucketing = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false")
    if (bucketing != "true") return None
    if (!required.fieldNames.contains(pk)) return None
    if (planned.isEmpty) return None
    val dt = required(pk).dataType
    val vals = planned.map(pathPartValue)
    if (vals.contains(None)) return None // flat-layout file: value unknown
    if (scala.util.Try(vals.flatten.distinct.foreach(v =>
      GraftColumnarPartitionReader.parsePartitionValue(v, dt))).isFailure)
      return None
    val current = kept.groupBy(e => pathPartValue(e).get)
    Some(planned.map(e => pathPartValue(e).get).distinct.sorted
      .map(v => v -> current.getOrElse(v, Nil)))
  }

  /** Storage-partitioned-join contract: when files are key-grouped, report
    * identity clustering on the partition column so Spark can align two
    * co-partitioned graft tables and elide both exchanges. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    keyGroups match {
      case Some(groups) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(
            Array(org.apache.spark.sql.connector.expressions.Expressions
              .identity(m.partitionKey.get)),
            groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(kept.size)
    }

  private def dvRef(e: FileEntry): Option[(String, String)] =
    e.dvPath.map(p => (root.resolve(p).toString, e.path))

  override def planInputPartitions(): Array[InputPartition] = {
    // Source-bounded MERGE candidates (set by the optimizer rule after this
    // scan was built): shrink `kept` exactly like a runtime filter — group
    // VALUES still come from the `planned` snapshot, so key-grouped
    // partitioning stays stable (a fully-pruned value yields an empty
    // group, never a shorter group list).
    dynamicKeep().foreach(paths => kept = kept.filter(e => paths(e.path)))
    extraKeep.foreach(paths => kept = kept.filter(e => paths(e.path)))
    keyGroups match {
      case Some(groups) =>
        val pk = m.partitionKey.get
        val dt = required(pk).dataType
        groups.map { case (raw, es) =>
          GraftGroupedPartition(
            es.map(e => root.resolve(e.path).toString),
            Map(pk -> raw),
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](GraftColumnarPartitionReader
                .parsePartitionValue(raw, dt))),
            es.flatMap(e => dvRef(e)
              .map(root.resolve(e.path).toString -> _)).toMap)
        }.toArray
      case None => kept.map { e =>
        // hive-style partition values live in the path, not the file
        GraftInputPartition(
          root.resolve(e.path).toString, GraftScan.hivePathValues(e.path),
          dvRef(e))
      }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // deletion-vectored and pre-evolution files stay COLUMNAR via the
    // augmented reader (batch compaction of surviving rows / per-batch
    // generated-column fill). Only a requested `_pos` metadata column
    // forces row mode (a running per-file position has no columnar
    // constant-vector form, and row-level ops want rows anyway).
    new GraftReaderFactory(columnar = columnar &&
      !required.fieldNames.contains(GraftTable.PosColumnName),
      required = required, mapping = m.columnMapping,
      filters = pushedSource, genFill = genFill)

  /** GENERATED-column backfill recipe (partition-spec evolution): built
    * once per scan when the current transform's column is required and any
    * kept file predates it (no path value). The transform expression is
    * resolved/bound DRIVER-side (session-timezone exact) and shipped to
    * the readers; columnar scans derive it per batch via the augmented
    * reader, row scans per row. */
  private lazy val genFill: Option[GenFill] =
    GenFill.forScan(m, required, kept)
}

final class GraftReaderFactory(required: StructType, columnar: Boolean = true,
    mapping: Map[String, String] = Map.empty,
    /** Pushed source filters for parquet row-group skipping — BOTH reader
      * modes (the row reader reconstructs exact global row positions from
      * footer block metadata, so DV subtraction and `_pos` stay correct
      * under skipping). Pruning-only; filters stay residual above the
      * scan. */
    filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    /** Generated-partition-column backfill for pre-evolution files —
      * per-row in row mode, per-batch via [[GraftAugmentedColumnarReader]]
      * in columnar mode. */
    genFill: Option[GenFill] = None)
  extends PartitionReaderFactory {

  /** COLUMN MAPPING: files (data and `_cdc` alike) store PHYSICAL names,
    * Spark asks for LOGICAL ones — the per-file readers get the requested
    * schema with names translated. Spark consumes rows/batches POSITIONALLY
    * against the scan's `readSchema()` (which stays logical), so renaming
    * here is invisible above the scan. Reserved feed columns and path-borne
    * partition keys are rename-fenced ⇒ identity, so partition-value maps
    * keyed by path names keep matching. */
  private val physRequired: StructType =
    GraftParquetIO.physicalSchema(required, mapping)

  /** Per-scan (not per-file) decision — Spark requires all partitions of a
    * scan in the same mode. Flat primitive schemas (the connector's only
    * admitted shape) are always vectorizable. */
  override def supportColumnarReads(p: InputPartition): Boolean = columnar

  /** Plain vectorized reader for the common case; the augmented reader
    * (batch compaction / per-batch generated-column fill) only where the
    * FILE needs it — a DV'd file, or one whose path lacks the generated
    * column (pre-evolution era). */
  private def mkColumnar(path: String, pv: Map[String, String],
      dv: Option[(String, String)]): PartitionReader[
      org.apache.spark.sql.vectorized.ColumnarBatch] =
    if (dv.isDefined || genFill.exists(gf => !pv.contains(gf.genName)))
      new GraftAugmentedColumnarReader(path, physRequired, pv,
        capacity = 4096, dv = dv, genFill = genFill, filters = filters,
        nameMapping = mapping)
    else
      new GraftColumnarPartitionReader(path, physRequired, pv,
        capacity = 4096, filters = filters, nameMapping = mapping)

  override def createColumnarReader(p: InputPartition): PartitionReader[
    org.apache.spark.sql.vectorized.ColumnarBatch] = p match {
    case g: GraftGroupedPartition =>
      new GraftConcatReader(g.files.map(f => () =>
        mkColumnar(f, g.partitionValues, g.dv.get(f))))
    case gp: GraftInputPartition =>
      mkColumnar(gp.filePath, gp.partitionValues, gp.dv)
  }

  override def createReader(p: InputPartition): PartitionReader[
    org.apache.spark.sql.catalyst.InternalRow] = p match {
    case g: GraftGroupedPartition =>
      new GraftConcatReader(g.files.map(f => () =>
        new GraftPartitionReader(f, physRequired, g.partitionValues,
          g.dv.get(f), genFill, filters = filters, nameMapping = mapping)
          : PartitionReader[org.apache.spark.sql.catalyst.InternalRow]))
    case gp: GraftInputPartition =>
      new GraftPartitionReader(gp.filePath, physRequired, gp.partitionValues,
        gp.dv, genFill, filters = filters, nameMapping = mapping)
  }
}

/** Sequential concatenation of per-file readers — one key-grouped task reads
  * its partition value's files back to back (opened lazily, closed eagerly:
  * at most one file's reader is live per task). */
final class GraftConcatReader[T](mk: Seq[() => PartitionReader[T]])
  extends PartitionReader[T] {
  private val pending = mk.iterator
  private var cur: PartitionReader[T] = _

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (!pending.hasNext) return false
        cur = pending.next()()
      }
      if (cur.next()) return true
      cur.close()
      cur = null
    }
    false // unreachable
  }

  override def get(): T = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}
