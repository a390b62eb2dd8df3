package graft.storage

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.operators.MergeEngine
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, NumericType, StringType, StructField, StructType}
import org.json4s.{Formats, NoTypeHints}
import org.json4s.jackson.Serialization

/** One data file of a committed snapshot. `path` is relative to the table
  * root; a commit may reference files written by ANCESTOR commits (copy-on-
  * write: untouched files are carried over by reference, never rewritten).
  * `minKey`/`maxKey` are the stringified min/max of the first primary-key
  * column — the pruning statistics that keep MERGE from rewriting the world
  * (SURVEY.md §7.4.7: prune target files against source keys BEFORE the
  * join). `minKey2`/`maxKey2` carry the SECOND key column of composite-key
  * tables (absent on single-key tables and pre-upgrade manifests — both
  * degrade to "no col-2 stats ⇒ no extra pruning", never to a wrong skip):
  * each column prunes independently, so a MERGE touching (a=1, b=high) can
  * carry files holding only (a=1, b=low). `bytes` is the file's on-disk size,
  * recorded by every writer — what the DSv2 scan reports to Catalyst so
  * small graft tables auto-broadcast in joins without touching any data
  * file at planning time.
  */
final case class FileEntry(
    path: String, rows: Long, minKey: Option[String], maxKey: Option[String],
    minKey2: Option[String] = None, maxKey2: Option[String] = None,
    bytes: Long = 0L,
    /** Extra data-skipping stats ([[TableConfig.statsColumns]]): column →
      * [min, max] in stat-string space. Absent column ⇒ no stats ⇒ that
      * file is never skipped on it (pre-upgrade manifests degrade safely).
      */
    extra: Map[String, ColRange] = Map.empty,
    /** Per-column NULL counts (physical name → count) for the key and
      * [[TableConfig.statsColumns]] columns, from parquet footer
      * null-count stats: `IS [NOT] NULL` file skipping and COUNT(col)
      * manifest pushdown feed on these. Absent column ⇒ unknown ⇒ never
      * skipped / never pushed (pre-upgrade manifests degrade safely). */
    nulls: Map[String, Long] = Map.empty,
    /** Per-column K-MINIMUM-VALUES distinct-count sketch state (PHYSICAL
      * name → sorted k smallest 48-bit hashes, k = [[CowTable.NdvK]]) —
      * written when [[TableConfig.ndvSketch]] is on. Mergeable across any
      * file subset, so scans report join-reorder-grade NDV for the PRUNED
      * file set with O(k) manifest bytes per column per file. Absent ⇒ no
      * estimate (pre-upgrade manifests degrade safely). */
    ndv: Map[String, Seq[Long]] = Map.empty,
    /** The comma-joined cluster-column signature this file was Z-ORDERED
      * under, set by [[CowTable.optimize]] on its output files and carried
      * verbatim while the file survives commits untouched. Lets OPTIMIZE
      * run INCREMENTALLY — only files not yet clustered under the requested
      * signature rewrite, so repeated OPTIMIZE on a growing table costs
      * O(files added since last run), not O(table) (the liquid-clustering
      * amortization; at 100 TB a full re-cluster per run is not viable).
      * Merge/compaction outputs are unset (they reorganize rows), so
      * touched data naturally re-enters the next OPTIMIZE. Absent on
      * pre-upgrade manifests ⇒ never clustered (degrades to a full run). */
    zorderBy: Option[String] = None,
    /** DELETION VECTOR sidecar (merge-on-read deletes, Delta DV / Iceberg
      * positional-delete shape): root-relative dir of a parquet of
      * (path, pos) rows marking this file's DELETED row positions. The
      * file's bytes are untouched — readers subtract the positions, a
      * rewrite (upsert/compact/purge) materializes the subtraction and
      * clears the vector. Absent ⇒ every physical row is live. */
    dvPath: Option[String] = None,
    /** Number of this file's positions in [[dvPath]] (live = rows − dvRows). */
    dvRows: Long = 0L) {
  /** Stat bounds of key column `i` (0 or 1). */
  def bounds(i: Int): (Option[String], Option[String]) =
    if (i == 0) (minKey, maxKey) else (minKey2, maxKey2)
  def liveRows: Long = rows - dvRows
}

/** One column's [min, max] footer stats (stat-string space). */
final case class ColRange(mn: Option[String], mx: Option[String])

/** JSON commit manifest — the transactional metadata the reference delegates
  * to Hudi/Iceberg/Delta (all configured copy-on-write, SURVEY.md §1.1).
  * O(files) metadata, no per-row state: holds at 100 TB.
  */
final case class CommitManifest(
    version: Int,
    parent: Int,
    schemaJson: String,
    primaryKey: Seq[String],
    partitionKey: Option[String],
    keyNumeric: Boolean,
    rowCount: Long,
    files: Seq[FileEntry],
    /** false ⇔ this commit only reorganized existing rows (compaction,
      * rollback) — the change feed skips its files (Delta CDF-style). */
    dataChange: Boolean = true,
    /** Wall-clock commit time (epoch millis; 0 for manifests written before
      * the field existed) — what `TIMESTAMP AS OF` resolves against. */
    commitTimeMs: Long = 0L,
    /** Numeric-comparison flag for the SECOND key column's stats (false for
      * single-key tables and pre-upgrade manifests). */
    key2Numeric: Boolean = false,
    /** Exactly-once streaming-sink transaction marker: the (stable streaming
      * query id, epoch id) this commit applied — the Delta txn-action
      * analog. A recovery-replayed epoch finds its marker and commits
      * nothing twice. */
    streamQueryId: Option[String] = None,
    streamEpochId: Option[Long] = None,
    /** Root-relative dir of this commit's MATERIALIZED change rows
      * ([[TableConfig.changeDataFeed]]): the exact I/U/D rows with a
      * physical `_change_type` column, written by the mutating commit
      * itself. Present ⇒ the change feed reads them directly (row-exact,
      * no reconstruction join); absent ⇒ the feed falls back to the
      * file-diff join. */
    cdcDir: Option[String] = None,
    /** Durable TABLE PROPERTIES ([[TableConfig]] behavior flags), carried
      * commit to commit so writers that open the table from its root alone
      * (the DSv2 connector, procedures) inherit the declared behavior
      * instead of silently dropping it. Absent on pre-upgrade manifests ⇒
      * all defaults (how those tables actually behaved). */
    statsColumns: Seq[String] = Nil,
    bloomIndex: Boolean = false,
    changeDataFeed: Boolean = false,
    precombineKey: Option[String] = None,
    clusterByKey: Boolean = false,
    maxRecordsPerFile: Long = 0L,
    checkConstraints: Seq[String] = Nil,
    /** COLUMN MAPPING (Delta name-mapping analog): logical column name →
      * stable PHYSICAL name, for columns whose user-facing name diverged
      * from the name stored in data files via `RENAME COLUMN`, or whose
      * natural name was already burned by a DROPPED predecessor. Identity
      * entries are omitted; empty ⇔ logical names ARE the physical names
      * (every pre-mapping manifest). Physical names never change after
      * allocation — that is what makes rename/drop metadata-only at any
      * scale, and what keeps a re-added column from resurrecting a dropped
      * predecessor's bytes. */
    columnMapping: Map[String, String] = Map.empty,
    /** Every physical name ever allocated in this table's history (monotone
      * append; survives the column's drop) — the allocation fence that
      * forces a NEW column whose name collides with any historical physical
      * slot onto a fresh physical name. Empty on pre-mapping manifests ⇒
      * derived from the schema (no rename/drop ever happened, so the schema
      * names are the complete history). */
    usedPhysicalNames: Seq[String] = Nil,
    deletionVectors: Boolean = false,
    /** Durable [[TableConfig.ndvSketch]] flag. */
    ndvSketch: Boolean = false,
    /** Durable partition-transform spec ([[TableConfig.partitionSpec]]) —
      * absent on identity-partitioned and pre-upgrade manifests. When
      * present, [[partitionKey]] is the transform's GENERATED column. */
    partitionSpec: Option[String] = None,
    /** DELTA-ENCODED manifest (Delta-Lake log + checkpoint architecture):
      * when present, [[files]] holds only this commit's ADDED/CHANGED
      * entries and this field the parent-relative REMOVED/CHANGED paths
      * (written even when empty, so every delta's JSON carries the key) —
      * the full file list is reconstructed by folding onto version-1
      * ([[CowTable.manifestAt]]) down to the nearest checkpoint. What keeps
      * commit METADATA O(changed files): a 100 TB table with 100k files and
      * a 100-row hourly CDC batch writes a ~1-entry delta per commit, not a
      * 100k-entry snapshot. Every stored manifest carries exactly one of
      * this field and [[filesParquet]]. Readers never see this field set —
      * manifestAt folds before returning. */
    deltaRemoved: Option[Seq[String]] = None,
    /** Canonical spec strings of RETIRED partition transforms (partition-
      * spec evolution history, Iceberg REPLACE PARTITION FIELD): files
      * written under an old transform keep its hive layout forever, and
      * scans replay source predicates through EACH era's own transform
      * against that era's path key — so pruning works on both sides of the
      * evolution boundary. Monotone append (commitAt retires the parent's
      * spec whenever the spec changes); absent on pre-upgrade manifests. */
    priorSpecs: Seq[String] = Nil,
    /** PARQUET CHECKPOINT (Delta parquet-checkpoint analog): when present,
      * [[files]] is empty in the stored JSON and the full [[FileEntry]]
      * list lives as one parquet row per file at this `_manifests/`-
      * relative path ([[ManifestCheckpoint]]). Written for v1, every
      * [[CowTable.ManifestCheckpointEvery]]-th version and any commit whose
      * delta would be no smaller than the full list, at every table size;
      * readers never see it set ([[CowTable.manifestAt]] resolves before
      * returning). */
    filesParquet: Option[String] = None,
    /** CRC32C of the whole [[filesParquet]] sidecar; every read verifies
      * it before decoding. */
    filesParquetCrc32c: Option[Long] = None,
    /** HEADER SUMMARIES of the full folded file list, computed at commit
      * time so scan planning can answer whole-list questions WITHOUT
      * materializing the list (the prerequisite for predicate-pruned cold
      * planning over parquet checkpoints): does every file carry a
      * path-borne partition value (exact-consumption gate), and which
      * physical columns have extra data-skipping stats in at least one
      * file. Absent on pre-r18 manifests ⇒ callers fall back to the full
      * fold (the old cost, never a wrong answer). */
    allPathed: Option[Boolean] = None,
    stattedPhys: Option[Seq[String]] = None) {

  /** Reconstruct the behavioral [[TableConfig]] this manifest records. */
  def tableConfig(name: String): TableConfig = TableConfig(
    name, primaryKey,
    // the generated column's key is re-derived from the spec, not stored
    // twice (TableConfig holds them mutually exclusive)
    if (partitionSpec.isDefined) None else partitionKey,
    precombineKey, clusterByKey,
    maxRecordsPerFile, bloomIndex, statsColumns, changeDataFeed,
    checkConstraints, deletionVectors, partitionSpec, ndvSketch)

  /** The name of `logical`'s column in data files (identity unless mapped). */
  def physicalName(logical: String): String =
    columnMapping.getOrElse(logical, logical)

  /** Declared type per PHYSICAL column name — the name data files and
    * hive path segments store a column under. */
  def physicalTypes: Map[String, DataType] =
    CowTable.structFromJson(schemaJson).fields
      .map(f => physicalName(f.name) -> f.dataType).toMap

  /** Complete physical-name history: the stored fence plus (for pre-mapping
    * manifests, where the fence is empty) every live column's physical name. */
  def effectiveUsedPhysical: Seq[String] =
    (usedPhysicalNames ++
      CowTable.structFromJson(schemaJson).fieldNames.map(physicalName) ++
      columnMapping.values).distinct
}

/** A concurrent writer committed the same version first. The losing commit
  * changed NOTHING (its manifest never became visible; its data files are
  * unreferenced garbage) — re-read the table and retry the operation. */
final class ConcurrentWriteException(msg: String)
  extends RuntimeException(msg)

/** What a row-level write (upsert/delete/SQL MERGE) READ, for the
  * snapshot-isolation rebase on commit conflict: the file paths it read
  * (a superset of those it replaces) plus its key footprint — either the
  * exact source batch (`source`; its key set decides disjointness vs a
  * winner's added files) or, when the source is no longer available at
  * commit time (the DSv2 row-level path), the stat ranges of the files it
  * read and wrote (`footprint`): every key
  * the op read, updated, deleted, or inserted lies inside a touched file's
  * range or a fresh output file's range, so a winner-added file whose
  * range misses ALL of them is provably non-interacting. */
private[graft] final case class RebaseCtx(
    touchedPaths: Set[String],
    source: Option[org.apache.spark.sql.DataFrame],
    footprint: Seq[FileEntry] = Nil)

/** Minimal copy-on-write transactional table on plain parquet — the engine's
  * re-expression of the reference's open-table-format layer
  * (reference: src/hudi/hudi-initial-load.py:69-104 bulk create,
  * src/delta/delta-initial-load.py:61-78 snapshot write,
  * src/iceberg/iceberg-initial-load.py:60-94 DDL+insert; all three COW).
  *
  * Layout:
  * {{{
  *   <root>/_manifests/v00001.json     commit manifests (one per version;
  *                                     atomic hard-link CAS = commit point)
  *   <root>/_manifests/_current        fast-start pointer hint
  *   <root>/v00001-<tok>/[pk=val/]part-*.parquet   writer-unique data dirs
  * }}}
  *
  * Guarantees: atomic version advance with optimistic concurrency (the
  * manifest-file CAS makes exactly ONE of two racing writers succeed; the
  * loser throws [[ConcurrentWriteException]] leaving only unreferenced
  * files — single-writer deployments mirror the reference's
  * max_concurrent_runs=1, cdk_stacks/glue_stack.py:156-158, and never see
  * it), time-travel read of any version by number or commit timestamp,
  * schema evolution on write (new columns null-filled for old files at read
  * time, mirroring Delta autoMerge, src/delta/delta-initial-load.py:33), and
  * match-exact merges: only files that hold a matched key are rewritten.
  */
final class CowTable private[storage] (
    val spark: SparkSession, rootDir: String, config0: TableConfig) {
  import CowTable._

  /** Normalized config: a partition TRANSFORM's generated column becomes
    * the identity partition key every layout/pruning/maintenance path
    * already understands — after generation it IS an ordinary hive key. */
  val config: TableConfig = config0.partitionTransform match {
    case Some(t) => config0.copy(partitionKey = Some(t.name))
    case None => config0
  }

  val root: Path = Paths.get(rootDir).toAbsolutePath
  private def manifestDir: Path = root.resolve("_manifests")
  private def pointerFile: Path = manifestDir.resolve("_current")

  /** Injectable commit clock (epoch millis) — deterministic `TIMESTAMP AS
    * OF` tests/oracles inject a fixed sequence; production uses wall clock
    * (the reference stamps wall-clock too, src/hudi/hudi-cdc-load.py:93). */
  @volatile private var clockMs: () => Long = () => System.currentTimeMillis()
  def withClock(f: () => Long): this.type = { clockMs = f; this }

  /** Pending IDEMPOTENT-WRITE marker (Delta `txnAppId`/`txnVersion`): armed
    * by [[withTxn]], consumed by exactly ONE mutating operation. */
  @volatile private var txn: Option[(String, Long)] = None

  /** Arm the NEXT mutating operation (upsert/delete/overwrite/create) with
    * an application transaction marker — the Delta `txnAppId`/`txnVersion`
    * idempotent-write contract, and the foreachBatch crash-recovery story:
    * a micro-batch replayed after checkpoint recovery re-runs with the SAME
    * (appId, batchId), finds the marker already committed, and applies
    * NOTHING twice (a read-modify-write batch would otherwise double-apply).
    * `version` must be monotone per `appId` (streaming batch ids are). The
    * marker rides the commit manifest (the same fields the streaming sink's
    * exactly-once epochs use) and is checked again under the commit CAS, so
    * two replicas replaying the same batch concurrently still apply it once.
    * Scope is ONE operation: the marker is cleared on commit or skip —
    * a later un-tagged mutation is never silently skipped. */
  def withTxn(appId: String, version: Long): this.type = {
    require(appId.nonEmpty, "withTxn: appId must be non-empty")
    txn = Some((appId, version)); this
  }

  /** Highest [[withTxn]]/streaming-sink version committed for `appId`
    * (None ⇔ never committed here) — the resume point a restarted writer
    * reads instead of trusting its own checkpoint alone. */
  def lastTxnVersion(appId: String): Option[Long] = lastStreamEpoch(appId)

  /** True ⇒ the armed txn marker is already on the table: the operation
    * must SKIP (idempotent replay). Consumes the marker either way a
    * mutating op resolves — see [[withTxn]]'s one-operation scope. */
  private def txnAlreadyApplied(): Boolean = txn match {
    case Some((id, v)) if lastStreamEpoch(id).exists(_ >= v) =>
      txn = None; true
    case _ => false
  }

  /** The COMMIT POINT is the atomic creation of the version's manifest file
    * (hard-link CAS in [[commitManifest]]); the `_current` pointer is only a
    * fast-start hint. Probing upward from the hint heals the crash window
    * between manifest creation and pointer refresh — a committed version is
    * never lost, and readers agree with writers on what "current" means. */
  def currentVersion: Int = CowTable.currentVersionAt(root)

  def manifest(version: Int): CommitManifest =
    CowTable.manifestAt(root, version)

  /** Current snapshot as a DataFrame (scan of the manifest's file set). */
  def read(): DataFrame = readVersion(currentVersion)

  /** Snapshot scan restricted to primary keys in `[lower, upper]` (either
    * bound optional): files whose manifest [minKey, maxKey] cannot overlap
    * the range are skipped BEFORE any file is opened — O(files) metadata
    * data-skipping, the read-side twin of merge pruning. Parquet row-group
    * stats still prune within the files that remain; the exact filter is
    * applied on top, so results equal `read().filter(...)` always. */
  def readRange(lower: Option[Any], upper: Option[Any]): DataFrame = {
    val m = manifest(currentVersion)
    val k = config.primaryKey.head
    val df = readFiles(m, CowTable.filesInRange(m, lower, upper))
    val withLo = lower.map(lo => df.filter(col(k) >= lit(lo))).getOrElse(df)
    upper.map(hi => withLo.filter(col(k) <= lit(hi))).getOrElse(withLo)
  }

  /** Oldest version whose files are guaranteed present (vacuum advances it;
    * 1 for a never-vacuumed table). */
  def earliestReadableVersion: Int = CowTable.earliestReadableAt(root)

  /** Time-travel: any committed version >= [[earliestReadableVersion]]
    * remains readable (its files are never rewritten in place — copy-on-
    * write; only [[vacuum]] ever deletes them). */
  def readVersion(version: Int): DataFrame = {
    require(version >= 1 && version <= currentVersion,
      s"version $version out of range 1..$currentVersion")
    require(version >= earliestReadableVersion,
      s"version $version was vacuumed (earliest readable: " +
        s"$earliestReadableVersion)")
    val m = manifest(version)
    readFiles(m, m.files)
  }

  /** Bulk insert creating version 1 (reference initial load,
    * src/hudi/hudi-initial-load.py:69-104). Fails if the table exists. */
  def create(df: DataFrame): Int = {
    if (txnAlreadyApplied()) return currentVersion // replayed create batch
    require(currentVersion == 0, s"table ${config.tableName} already exists")
    try writeVersion(df, df.schema, carryOver = Nil, parent = 0)
    finally txn = None // one-operation scope even on no-op/failure paths
  }

  /** Full-snapshot overwrite (reference Delta path sink mode=overwrite,
    * src/delta/delta-initial-load.py:61-78). */
  def overwrite(df: DataFrame): Int = {
    if (txnAlreadyApplied()) return currentVersion
    try writeVersion(df, df.schema, carryOver = Nil,
      parent = currentVersion)
    finally txn = None
  }

  /** Columns rename/drop must not touch: table-mechanics columns whose
    * LOGICAL name is load-bearing (key stats, hive paths, precombine
    * ordering) — fencing them keeps logical == physical for every pruning
    * and layout path (Delta similarly blocks partition-column renames
    * without a rewrite). */
  private def structuralColumns: Set[String] =
    (config.primaryKey ++ config.partitionKey ++ config.precombineKey ++
      config.partitionTransform.map(_.source)).toSet

  /** Conservative "does this CHECK constraint mention column `c`" probe:
    * word-boundary match on the raw SQL text. Reads the MANIFEST's durable
    * constraints (the truth another session may have added after this
    * instance was constructed) unioned with this instance's config, so a
    * stale registry entry can never rename a constraint-referenced column
    * out from under the constraint and brick later writes. False positives
    * only block an ALTER with a clear message (drop the constraint first)
    * — never corrupt. */
  private def constraintMentions(m: CommitManifest, c: String): Seq[String] =
    (m.checkConstraints ++ config.checkConstraints).distinct.filter(
      _.matches(s"(?s).*\\b${java.util.regex.Pattern.quote(c)}\\b.*"))

  /** ALTER TABLE RENAME COLUMN, METADATA-ONLY (Delta column-mapping
    * semantics): the user-facing name changes; the PHYSICAL name in every
    * data/change file stays what it always was, recorded in the manifest's
    * [[CommitManifest.columnMapping]] — zero data rewritten, so a 100 TB
    * table renames in one manifest write. All reads (snapshot, time travel,
    * change feed, constraints) resolve logical → physical at plan time.
    * Renaming primary-key / partition / precombine columns is fenced (their
    * logical names are load-bearing in stats and hive paths); so are
    * columns referenced by CHECK constraints (drop the constraint first —
    * Delta's rule) and reserved feed columns. */
  def renameColumn(from: String, to: String): Int = {
    val parent = currentVersion
    require(parent > 0, s"table ${config.tableName} does not exist")
    val m = manifest(parent)
    val schema = structFromJson(m.schemaJson)
    require(schema.fieldNames.contains(from),
      s"table ${config.tableName}: no column $from")
    // duplicate/reserved checks are CASE-INSENSITIVE: Spark's analyzer
    // resolves case-insensitively, so a case-variant duplicate (V vs v)
    // would make every later reference AMBIGUOUS — reject it here
    require(!schema.fieldNames.exists(f =>
        f != from && f.equalsIgnoreCase(to)),
      s"table ${config.tableName}: column $to already exists")
    require(!structuralColumns.contains(from),
      s"table ${config.tableName}: cannot rename $from — primary-key/" +
        "partition/precombine columns are structural (rewrite the table " +
        "into a new config instead)")
    require(!CowTable.reservedColumns.exists(_.equalsIgnoreCase(to)),
      s"table ${config.tableName}: $to is a reserved change-feed name")
    val mentioned = constraintMentions(m, from)
    require(mentioned.isEmpty,
      s"table ${config.tableName}: cannot rename $from — referenced by " +
        s"CHECK constraint(s) [${mentioned.mkString("; ")}]; drop them first")
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val phys = m.physicalName(from)
    val mapping = (m.columnMapping - from) ++
      (if (phys == to) Map.empty[String, String] else Map(to -> phys))
    commitManifest(m.copy(
      version = parent + 1, parent = parent,
      schemaJson = newSchema.json,
      dataChange = false, // same rows — feed/stream consumers skip it
      commitTimeMs = clockMs(),
      columnMapping = mapping,
      usedPhysicalNames = m.effectiveUsedPhysical,
      statsColumns = m.statsColumns.map(n => if (n == from) to else n),
      streamQueryId = None, streamEpochId = None, cdcDir = None))
    parent + 1
  }

  /** ALTER TABLE DROP COLUMN, METADATA-ONLY: the column leaves the logical
    * schema; its bytes stay untouched in existing files (COW never rewrites
    * in place) and simply stop being read. The physical name stays BURNED
    * in [[CommitManifest.usedPhysicalNames]] forever: a later ADD COLUMN
    * with the same name allocates a fresh physical slot, so old bytes can
    * never resurrect under the new column — the failure mode that makes
    * naive parquet-level drops unsafe. Structural and constraint-referenced
    * columns are fenced like [[renameColumn]]. */
  def dropColumn(name: String): Int = {
    val parent = currentVersion
    require(parent > 0, s"table ${config.tableName} does not exist")
    val m = manifest(parent)
    val schema = structFromJson(m.schemaJson)
    require(schema.fieldNames.contains(name),
      s"table ${config.tableName}: no column $name")
    require(!structuralColumns.contains(name),
      s"table ${config.tableName}: cannot drop $name — primary-key/" +
        "partition/precombine columns are structural")
    val mentioned = constraintMentions(m, name)
    require(mentioned.isEmpty,
      s"table ${config.tableName}: cannot drop $name — referenced by " +
        s"CHECK constraint(s) [${mentioned.mkString("; ")}]; drop them first")
    val newSchema = StructType(schema.fields.filterNot(_.name == name))
    require(newSchema.fields.nonEmpty,
      s"table ${config.tableName}: cannot drop the last column")
    commitManifest(m.copy(
      version = parent + 1, parent = parent,
      schemaJson = newSchema.json,
      dataChange = false,
      commitTimeMs = clockMs(),
      columnMapping = m.columnMapping - name,
      usedPhysicalNames = m.effectiveUsedPhysical, // burns the physical slot
      statsColumns = m.statsColumns.filterNot(_ == name),
      streamQueryId = None, streamEpochId = None, cdcDir = None))
    parent + 1
  }

  /** ALTER TABLE ADD COLUMN, METADATA-ONLY — optionally with an INITIAL
    * DEFAULT (Iceberg-V3 initial-default / Spark EXISTS_DEFAULT semantics):
    * rows written BEFORE the add read `defaultSql`'s value; rows written
    * after read what was stored (an explicit NULL stays NULL). Zero data
    * rewritten at any scale: the folded default literal rides the schema
    * field's metadata (Spark's own `EXISTS_DEFAULT`/`CURRENT_DEFAULT`
    * convention, so the vectorized parquet reader fills it natively) and
    * every read path distinguishes "file predates the column" (physical
    * absence — fill default) from "stored null" (present — keep). The
    * default must fold to a CONSTANT at ALTER time — non-deterministic or
    * column-referencing expressions fail loudly here, not at read. A name
    * burned by a dropped predecessor allocates a fresh physical slot
    * ([[CommitManifest.usedPhysicalNames]]), so old bytes never resurrect
    * under the defaulted column. */
  def addColumn(name: String, dt: DataType,
      defaultSql: Option[String] = None): Int = {
    val parent = currentVersion
    require(parent > 0, s"table ${config.tableName} does not exist")
    val m = manifest(parent)
    val schema = structFromJson(m.schemaJson)
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"table ${config.tableName}: column $name already exists")
    require(!CowTable.reservedColumns.exists(_.equalsIgnoreCase(name)),
      s"table ${config.tableName}: $name is a reserved change-feed name")
    val metadata = defaultSql.fold(
      org.apache.spark.sql.types.Metadata.empty)(sql =>
      // fold + validate NOW: parse/cast errors and non-constant
      // expressions must fail the ALTER, never a later read
      ColumnDefaults.metadataFor(spark, config.tableName, name, dt, sql))
    val newSchema = StructType(schema.fields :+
      StructField(name, dt, nullable = true, metadata))
    val (mapping, usedPhys) = CowTable.evolveMapping(Some(m), newSchema)
    commitManifest(m.copy(
      version = parent + 1, parent = parent,
      schemaJson = newSchema.json,
      dataChange = false, // same rows — feed/stream consumers skip it
      commitTimeMs = clockMs(),
      columnMapping = mapping,
      usedPhysicalNames = usedPhys,
      streamQueryId = None, streamEpochId = None, cdcDir = None))
    parent + 1
  }

  /** The CHECK constraints in force for the NEXT write: the current
    * manifest's durable list (authoritative post-create — ADD CONSTRAINT
    * commits append to it) unioned with this instance's config, so
    * GraftCatalog's ADD-CONSTRAINT validation (which passes the new
    * constraint via a temp config) still validates it before it is
    * durable, and a long-lived instance picks up constraints another
    * session added after this instance was constructed. */
  private def liveCheckConstraints: Seq[String] = {
    val v = currentVersion
    if (v == 0) config.checkConstraints
    else (manifest(v).checkConstraints ++ config.checkConstraints).distinct
  }

  /** Validate [[TableConfig.checkConstraints]] against a row set in ONE
    * short-circuiting pass (all constraints evaluated per row as a bool
    * array; the first violating row is fetched with its per-constraint
    * verdicts, so the error names exactly which constraints failed).
    * False OR NULL violates — Delta invariant semantics. Every write path
    * validates the WRITTEN files pre-commit ([[writeVersion]] for the API,
    * the connector commits for SQL/streaming), so a violation always
    * leaves only unreferenced files. Cost when constraints are configured:
    * one extra parallel scan of the NEW data only — never the table. */
  private[graft] def enforceConstraints(
      df: DataFrame, context: String): Unit = {
    val constraints = liveCheckConstraints
    if (constraints.isEmpty) return
    val checks = constraints
      .map(c => coalesce(expr(c).cast("boolean"), lit(false)))
    val bad = df
      .select(array(checks: _*).as("__ok"),
        to_json(struct(df.columns.map(col): _*)).as("__row"))
      .filter(array_contains(col("__ok"), false))
      .head(1)
    bad.headOption.foreach { r =>
      val failed = constraints.zip(r.getSeq[Boolean](0))
        .collect { case (c, false) => c }
      throw new IllegalArgumentException(
        s"table ${config.tableName}: CHECK constraint(s) " +
          s"[${failed.mkString("; ")}] violated during $context by row " +
          r.getString(1))
    }
  }

  /** [[enforceConstraints]] over freshly WRITTEN files (the DSv2 connector
    * validates at commit time, when rows exist only as new parquet): one
    * parallel scan of the new files, hive partition values re-attached so
    * constraints may reference the partition column. */
  private[graft] def enforceConstraintsOnFiles(
      files: Seq[FileEntry], schema: StructType, context: String,
      mapping: Map[String, String] = Map.empty): Unit = {
    if (liveCheckConstraints.isEmpty || files.isEmpty) return
    val m = CommitManifest(0, 0, schema.json, config.primaryKey,
      config.partitionKey, keyNumeric = false, rowCount = 0L, files = files,
      columnMapping = mapping)
    enforceConstraints(readFiles(m, files), context)
  }

  /** MERGE ... WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *
    * against the current snapshot ([[mutate]]): only the files that hold a
    * matched key change, and files whose [minKey, maxKey] cannot contain
    * any source key are not even read (at 100 TB a 100-row CDC batch
    * touches a handful of files, not the table). Source must be key-unique
    * — enforce upstream with [[graft.operators.CdcDedup.latestPerKeyStrict]]
    * or pass `assertUniqueKeys = true` (one cheap extra job over the small
    * source).
    */
  def upsert(source: DataFrame, assertUniqueKeys: Boolean = false): Int =
    upsertThenDelete(Some(source), None, oneRowPerKey = !assertUniqueKeys)._1

  /** [[upsert]] against an explicit snapshot version — the commit rebases
    * ([[commitWithRebase]]) or fails loud if versions landed after it.
    * Package-private: specs use it to simulate a writer whose snapshot went
    * stale mid-operation (the thing that actually happens on a cluster),
    * and pass a small `maxKeys` to run the pruner's over-cap path. */
  private[storage] def upsertFrom(parent: Int, source: DataFrame,
      maxKeys: Int = KeyPrune.MaxKeys): Int =
    mutate(parent, Some(source), None, keysDisjoint = true, maxKeys)._1

  /** MERGE ... WHEN MATCHED THEN DELETE ([[mutate]]): only the files that
    * hold a matched key change; a delete that matches no row commits
    * nothing (reference: src/iceberg/iceberg-cdc-load.py:147-150). */
  def delete(deleteKeys: DataFrame): Int = {
    if (txnAlreadyApplied()) return currentVersion // replayed batch: no-op
    // finally-clear: an EMPTY batch no-ops without committing, and the
    // armed marker must not leak onto the next (un-tagged) operation
    try deleteFrom(currentVersion, deleteKeys)
    finally txn = None
  }

  /** [[delete]] against an explicit snapshot version (see [[upsertFrom]]). */
  private[storage] def deleteFrom(parent: Int, deleteKeys: DataFrame): Int =
    mutate(parent, None, Some(deleteKeys), keysDisjoint = true)._2

  /** One CDC batch as two commits: [[upsert]] `source`, then [[delete]]
    * `deleteKeys` (None = no rows on that side), both off ONE match scan
    * ([[mutate]]). Returns (upsert version, delete version), each the
    * version current after that side. An armed [[withTxn]] marker tags
    * the upsert only. `oneRowPerKey` (a strict dedup) else the upsert side
    * is checked key-unique and a key may be on both sides. */
  def upsertThenDelete(source: Option[DataFrame],
      deleteKeys: Option[DataFrame], oneRowPerKey: Boolean): (Int, Int) = {
    val src = source.filterNot(_ => txnAlreadyApplied())
    if (src.isEmpty) txn = None // the marker tags the upsert only
    if (!oneRowPerKey)
      src.foreach(MergeEngine.assertKeyUnique(_, config.primaryKey))
    try mutate(currentVersion, src, deleteKeys, keysDisjoint = oneRowPerKey)
    finally txn = None
  }

  /** MOR-upsert eligibility: a deletion-vector table without a precombine
    * key (the MOR upsert is source-wins), and an exact schema match (names
    * + types) — schema evolution stays on the COW path, which already owns
    * the widening/mapping machinery. */
  private def morEligible(m: CommitManifest, source: DataFrame): Boolean = {
    val schema = structFromJson(m.schemaJson)
    config.deletionVectors && config.precombineKey.isEmpty &&
      source.columns.toSet == schema.fieldNames.toSet &&
      schema.fields.forall(f => source.schema(f.name).dataType == f.dataType)
  }

  /** `rows` joined with `keys` on the primary key NULL-SAFELY (`<=>`): a
    * NULL key matches a NULL key, as the batch dedup groups them. The
    * output drops `keys`' own key columns. */
  private def keyJoin(rows: DataFrame, keys: DataFrame, how: String)
      : DataFrame = {
    val pk = config.primaryKey
    def k(c: String) = s"__key_$c"
    val renamed = keys.select(keys.columns.toSeq.map(c =>
      col(c).as(if (pk.contains(c)) k(c) else c)): _*)
    rows.join(renamed, pk.map(c => col(c) <=> col(k(c))).reduce(_ && _), how)
      .drop(pk.map(k): _*)
  }

  /** The one mutation pipeline: upsert `source0`, then delete `deleteKeys`,
    * against version `parent`, as two commits. Either side may be None.
    * Returns (upsert version, delete version), the prior version when a
    * side moved nothing.
    *
    *  1. ONE key prune over both key sets ([[KeyPrune.touched]]).
    *  2. ONE match scan of the touched files joined null-safely with the
    *     kind-tagged keys (update wins a key on both sides), checkpointed
    *     by ONE per-(file, kind) mark count; none of it runs on an empty
    *     touch set.
    *  3. One materialize step per commit, the only place the layouts
    *     differ. A deletion-vector table (an upsert must be
    *     [[morEligible]]) folds the marked positions into a sidecar and
    *     appends the upsert rows (Delta's DV-update shape). A copy-on-write
    *     table rewrites only the files holding a mark, without the marked
    *     rows, and carries every other file by path. Its upsert writes the
    *     upsert rows ([[MergeEngine.reconcileSchemas]] widens) in one
    *     key-sorted shuffle, and a rewritten file's delete-marked rows to
    *     files of their own (`aside`), which the delete drops by path.
    *
    * CDF images come from the marked rows on both layouts. A delete that
    * marks nothing commits nothing. Under the keep-ties dedup (not
    * `keysDisjoint`, see [[graft.pipeline.CdcPipeline]]) the delete also
    * rescans the upsert's appended files for the delete keys.
    * A DV entry carries ONE sidecar: each new one folds in the old
    * positions of every touched vectored file. COW commits rebase
    * ([[commitWithRebase]]); DV in-place entry changes cannot, so DV
    * commits race loudly and the delete is pinned to the upsert's version. */
  private def mutate(parent: Int, source0: Option[DataFrame],
      deleteKeys: Option[DataFrame], keysDisjoint: Boolean,
      maxKeys: Int = KeyPrune.MaxKeys): (Int, Int) = {
    val pk = config.primaryKey
    val ks = pk.map(col)
    val (upd, del, kind) = (0, 1, "__kind")
    val keys = (source0.map(_.select(ks: _*).withColumn(kind, lit(upd))) ++
      deleteKeys.map(_.select(ks: _*).withColumn(kind, lit(del))))
      .reduceOption(_ unionAll _).getOrElse(return (parent, parent))
    if (parent == 0 && source0.isDefined) { // the upsert creates the table
      val v1 = writeVersion(source0.get, source0.get.schema, Nil, 0)
      txn = None
      return (v1, deleteKeys.fold(v1)(deleteFrom(v1, _)))
    }
    require(parent > 0, s"table ${config.tableName} does not exist")
    val m = manifest(parent)
    val schema = structFromJson(m.schemaJson)
    val dv = config.deletionVectors && source0.forall(morEligible(m, _))
    val source =
      source0.map(s => if (dv) s.select(schema.fieldNames.toSeq.map(col): _*) else s)
    val touched = KeyPrune.touched(m, root, keys, maxKeys)
      .getOrElse(return (parent, parent))._1 // empty batch: no commit
    // every key once, with its kind: the match scan computes it, the
    // rewrite reuses it (a lazy val: checkpointing runs the group-by's
    // shuffle, which a batch that touches no file must not pay)
    lazy val keyKinds = keys.groupBy(ks: _*).agg(min(col(kind)).as(kind))
      .localCheckpoint(eager = false)
    val readPaths = touched.map(_.path).toSet
    val matches = Option.when(touched.nonEmpty)(keyJoin(readFiles(m, touched,
      positions = true), keyKinds, "inner").localCheckpoint(eager = false))
    val marks = matches.fold(Map.empty[(String, Int), Long])(
      countsBy(_, "__rel", kind).map { case (r, n) =>
        (r.getString(0), r.getInt(1)) -> n })
    def marksOf(k: Int) = marks.collect { case ((p, `k`), n) => p -> n }
    def rowsOf(k: Int) =
      matches.filter(_ => marksOf(k).nonEmpty).map(_.filter(col(kind) === k))
    val (uMarks, dMarks0) = (marksOf(upd), marksOf(del))
    def positions(df: DataFrame) =
      df.select(col("__rel").as("path"), col("__pos").as("pos"))
    def image(df: DataFrame, changeType: String) =
      df.drop("__rel", "__pos", kind).withColumn("_change_type", lit(changeType))
    val rewrite1 = if (dv) Nil else m.files.filter(e => uMarks.contains(e.path))
    val rewritten = rewrite1.map(_.path).toSet
    val (v1, aside) = source.fold((parent, Seq.empty[FileEntry])) { src =>
      val uRows = rowsOf(upd)
      // a source key with a matched target row is an update, else insert;
      // a target column the source lacks keeps the matched row's value
      val mk = "__graft_matched"
      val absent = schema.fieldNames.toSeq.filterNot(src.columns.contains)
      val tagged = uRows.fold(src.withColumn(mk, lit(null))) { u =>
        keyJoin(src, u.select((pk ++ absent).map(col): _*)
          .dropDuplicates(pk).withColumn(mk, lit(1)), "left")
      }
      val post = if (dv || absent.isEmpty) src else tagged.drop(mk)
      // COW: the rewritten files' unmarked rows, widened together with the
      // upsert rows
      val fresh = if (dv) src else {
        val target = readFiles(m, rewrite1)
        val (t, p) = MergeEngine.reconcileSchemas(if (rewrite1.isEmpty) target
          else keyJoin(target, keyKinds, "left_anti"), post)
        t.unionByName(p, allowMissingColumns = true)
      }
      val freshSchema = if (dv) schema else fresh.schema
      // one mapping resolution feeds BOTH writes — the CDC files and the
      // data files must agree on evolved-in columns' physical names
      val mapEv = CowTable.evolveMapping(Some(m), freshSchema)
      val cdc = if (!config.changeDataFeed) None else writeCdc(
        (tagged.withColumn("_change_type", when(col(mk).isNotNull,
          lit("update_postimage")).otherwise(lit("insert"))).drop(mk) +:
          uRows.map(image(_, "update_preimage")).toSeq)
          .reduce(_.unionByName(_, allowMissingColumns = true)),
        parent + 1, mapEv._1)
      val out =
        if (dv) {
          val updated = uRows.fold(Map.empty[String, FileEntry])(u =>
            writeFoldedSidecar(parent + 1, touched.filter(e =>
              e.dvPath.isDefined || uMarks.contains(e.path)), positions(u),
              uMarks))
          (writeVersion(src, schema, m.files.map(e =>
            updated.getOrElse(e.path, e)), parent, cdcDir = cdc,
            mappingOpt = Some(mapEv)), Nil)
        } else {
          // one key-sorted shuffle partition per ~advisory size (AQE):
          // rewritten files keep disjoint key ranges
          val kept = writeFiles(fresh.repartition(ks: _*)
            .sortWithinPartitions(ks: _*), freshSchema, parent,
            mappingOpt = Some(mapEv))._1
          // a rewritten file's delete-marked rows (at most the delete
          // batch) go to a file of their own, which the delete commit
          // drops by path
          val parked = dMarks0.keys.filter(rewritten).toSeq
          val aside = if (parked.isEmpty) Nil else writeFiles(conform(
            rowsOf(del).get.filter(col("__rel").isin(parked: _*)), freshSchema)
            .coalesce(1), freshSchema, parent, mappingOpt = Some(mapEv))._1
          (commitFiles(parent, kept ++ aside, m.files.filterNot(e =>
            rewritten(e.path)), freshSchema, dataChange = true, cdc, mapEv,
            Some(RebaseCtx(readPaths, Some(keys)))), aside)
        }
      txn = None // the marker tags the upsert only
      out
    }
    val v2 = deleteKeys.fold(v1) { dk =>
      val m1 = if (v1 == parent) m else manifest(v1)
      val prior = (m.files ++ aside).map(_.path).toSet
      // keep-ties: an upserted key the batch also deletes was appended
      val appended =
        if (keysDisjoint) Nil else m1.files.filterNot(e => prior(e.path))
      val appendedRows = Option.when(appended.nonEmpty)(keyJoin(
        readFiles(m1, appended, positions = true), dk.select(ks: _*),
        "left_semi").withColumn(kind, lit(del)).localCheckpoint(eager = false))
      val dMarks = dMarks0.filterNot(p => rewritten(p._1)) ++
        appendedRows.fold(Map.empty[String, Long])(df =>
          marksPerFile(positions(df)))
      if (dMarks.isEmpty && aside.isEmpty) v1 // range-prune false positives
      else {
        val (schema1, mapping1) = (structFromJson(m1.schemaJson),
          (m1.columnMapping, m1.effectiveUsedPhysical))
        val cdc = if (!config.changeDataFeed) None else writeCdc(image(
          (rowsOf(del) ++ appendedRows).reduce(
            _.unionByName(_, allowMissingColumns = true)), "delete"),
          v1 + 1, m1.columnMapping)
        if (dv) {
          val files = touched.filter(e => e.dvPath.isDefined ||
            uMarks.contains(e.path) || dMarks.contains(e.path)) ++
            appended.filter(e => dMarks.contains(e.path))
          val folded = writeFoldedSidecar(v1 + 1, files, positions(
            (matches ++ appendedRows).reduce(_ unionByName _)),
            (uMarks.keySet ++ dMarks.keySet).map(p => p ->
              (uMarks.getOrElse(p, 0L) + dMarks.getOrElse(p, 0L))).toMap)
          commitAt(v1, Nil, m1.files.map(e => folded.getOrElse(e.path, e)),
            schema1, dataChange = true, cdcDir = cdc, mappingOpt = Some(mapping1))
        } else {
          val rewrite2 = m1.files.filter(e => dMarks.contains(e.path))
          val fresh = if (rewrite2.isEmpty) Nil else writeFiles(keyJoin(
            readFiles(m1, rewrite2), dk.select(ks: _*), "left_anti"), schema1,
            v1, mappingOpt = Some(mapping1))._1
          val dropped = dMarks.keySet ++ aside.map(_.path)
          commitFiles(v1, fresh, m1.files.filterNot(e => dropped(e.path)),
            schema1, dataChange = true, cdc, mapping1, Some(RebaseCtx(
              readPaths ++ appended.map(_.path) ++ aside.map(_.path), Some(dk))))
        }
      }
    }
    (v1, v2)
  }

  /** Commit of the SQL delta-based row-level path
    * ([[graft.sources.GraftDvRowLevelOperation]]): executor tasks marked
    * matched rows' (path, pos) into transport parquet `posFiles` and wrote
    * inserted/updated rows as fresh data files — this folds the positions
    * into a deletion-vector sidecar, materializes the CDF rows, and commits
    * O(matched + written rows) without rewriting a single data file. The
    * SQL DELETE/UPDATE twin of [[mutate]]: the
    * reference's CDC apply IS a SQL statement
    * (reference: src/delta/delta-cdc-load.py:121-141), so a DV-enabled
    * table must get the MOR write economics on the SQL path too. Commits
    * race via the manifest CAS loudly (in-place entry changes cannot
    * rebase). */
  private[graft] def commitDeltaDv(
      parent: Int,
      insertFiles: Seq[(String, Long)],
      updateFiles: Seq[(String, Long)],
      updPosFiles: Seq[String],
      delPosFiles: Seq[String]): Int = {
    val m = manifest(parent)
    val schema = structFromJson(m.schemaJson)
    val v = parent + 1
    // distinct: a MERGE whose only matched clause is an unconditional
    // DELETE runs without Spark's cardinality check, so a target row two
    // source rows match is marked twice
    def loadPos(fs: Seq[String]): Option[DataFrame] =
      if (fs.isEmpty) None
      else Some(spark.read.schema(CowTable.dvSchema) // fixed transport schema
        .parquet(fs.map(p => root.resolve(p).toString): _*)
        .select(col("path"), col("pos")).distinct())
    val updPosDf = loadPos(updPosFiles)
    val delPosDf = loadPos(delPosFiles)
    val posDf: Option[DataFrame] = (updPosDf, delPosDf) match {
      case (Some(a), Some(b)) => Some(a.unionAll(b))
      case (a, b) => a.orElse(b)
    }
    // new marks per file — the touched set, bounded by file count (update
    // and delete marks are disjoint, see the preimage scan below)
    val marks = posDf.fold(Map.empty[String, Long])(marksPerFile)
    if (marks.isEmpty && insertFiles.isEmpty && updateFiles.isEmpty)
      return parent // nothing matched, nothing written: no empty commit
    val touched = m.files.filter(e => marks.contains(e.path))
    val updated = posDf.filter(_ => touched.nonEmpty)
      .fold(Map.empty[String, FileEntry])(writeFoldedSidecar(v, touched, _, marks))
    val freshIns = statListedFiles(insertFiles, schema, m.columnMapping)
    val freshUpd = statListedFiles(updateFiles, schema, m.columnMapping)
    enforceConstraintsOnFiles(freshIns ++ freshUpd, schema,
      "row-level DV write", m.columnMapping)
    // CDF (deletionVectors requires changeDataFeed): preimages are the
    // marked rows read back from the touched files (existing vectors
    // already subtracted — a position can't tombstone twice), TYPED by
    // which clause marked them (a mixed MERGE deletes some rows and
    // updates others in one statement); post-images and inserts are the
    // freshly written files
    val cdc = {
      // ONE scan of the touched files serves BOTH preimage kinds: the
      // update and delete marks are disjoint by MERGE-clause construction
      // (a matched row is claimed by exactly one clause) and each task
      // emits a position at most once, so tagging the mark rows with their
      // change type and inner-joining classifies in a single pass (was two
      // position scans + two semi joins).
      def tag(df: DataFrame, changeType: String): DataFrame =
        df.select(col("path").as("__mark_path"),
          col("pos").as("__mark_pos"),
          lit(changeType).as("__mark_type"))
      val marks = Seq(
        updPosDf.map(tag(_, "update_preimage")),
        delPosDf.map(tag(_, "delete"))).flatten
        .reduceOption(_ unionAll _)
      val preBoth = marks.filter(_ => touched.nonEmpty).map { mk =>
        val withPos = readFiles(m, touched, positions = true)
        withPos.join(mk,
          withPos("__rel") === mk("__mark_path") &&
            withPos("__pos") === mk("__mark_pos"))
          .withColumn("_change_type", col("__mark_type"))
          .drop("__rel", "__pos", "__mark_path", "__mark_pos", "__mark_type")
      }
      val post =
        if (freshUpd.isEmpty) None
        else Some(readFiles(m, freshUpd)
          .withColumn("_change_type", lit("update_postimage")))
      val ins =
        if (freshIns.isEmpty) None
        else Some(readFiles(m, freshIns)
          .withColumn("_change_type", lit("insert")))
      val parts = Seq(preBoth, post, ins).flatten
      if (parts.isEmpty) None
      else writeCdc(parts.reduce(_ unionByName _), v, m.columnMapping)
    }
    // bloom sidecars for the appended files, same as every other write
    // path (verDir param is unused by the explicit-file-list form)
    if (config.bloomIndex) writeBlooms(root, freshIns ++ freshUpd, schema)
    val out = commitAt(parent, freshIns ++ freshUpd,
      m.files.map(e => updated.getOrElse(e.path, e)), schema,
      dataChange = true, cdcDir = cdc,
      mappingOpt = Some((m.columnMapping, m.effectiveUsedPhysical)))
    // the position files were transport, not table data
    (updPosFiles ++ delPosFiles).foreach(p =>
      Try(Files.deleteIfExists(root.resolve(p))))
    out
  }

  /** Write version `v`'s deletion-vector sidecar: `newPos` (path, pos)
    * rows FOLDED with the prior positions of every touched file (an entry
    * points at exactly ONE sidecar), and return the touched entries with
    * updated refs/counts, by path. Sidecar dir is writer-unique — a losing CAS
    * leaves an inert orphan, same as data files.
    *
    * `newMarks` is the caller's per-file count of `newPos` (the count it
    * already took to find the touched files): each entry's `dvRows`
    * becomes its old `dvRows` plus its new marks. The sum is exact, with no read-back of the written sidecar,
    * because the new positions are distinct and were read with existing
    * vectors subtracted — disjoint from the old ones. */
  private def writeFoldedSidecar(
      v: Int, touched: Seq[FileEntry], newPos: DataFrame,
      newMarks: Map[String, Long]): Map[String, FileEntry] = {
    // each old sidecar contributes only the files that still point at it:
    // a file re-marked since then carries its positions in a newer sidecar
    val oldPos = touched.filter(_.dvPath.isDefined).groupBy(_.dvPath.get)
      .toSeq.sortBy(_._1).map { case (dvp, es) =>
        spark.read.schema(CowTable.dvSchema)
          .parquet(root.resolve(dvp).toString)
          .filter(col("path").isin(es.map(_.path): _*))
          .select(col("path"), col("pos"))
      }
    val all = (newPos +: oldPos).reduce(_ unionByName _)
    val dvDirRel = f"v$v%05d-" + java.util.UUID.randomUUID
      .toString.replace("-", "").substring(0, 8) + "/dv"
    all.coalesce(1).write.parquet(root.resolve(dvDirRel).toString)
    touched.map(e => e.path -> e.copy(dvPath = Some(dvDirRel),
      dvRows = e.dvRows + newMarks.getOrElse(e.path, 0L))).toMap
  }

  /** Marked positions per root-relative file path of a (path, pos) frame —
    * one aggregate job, bounded by the number of touched files. */
  private def marksPerFile(pos: DataFrame): Map[String, Long] =
    countsBy(pos, "path").map { case (r, n) => r.getString(0) -> n }

  /** Rows per distinct value of `cols` in ONE stage without a shuffle:
    * each partition counts its own rows, and the collected partial
    * counts (O(distinct values × partitions) rows) are summed. */
  private def countsBy(df: DataFrame, cols: String*): Map[Row, Long] =
    df.select(cols.map(col): _*).rdd.mapPartitions { rows =>
      val n = scala.collection.mutable.HashMap.empty[Row, Long]
      rows.foreach(r => n(r) = n.getOrElse(r, 0L) + 1)
      n.iterator
    }.collect().groupMapReduce(_._1)(_._2)(_ + _)

  /** METADATA-ONLY DELETE: publish a new version whose manifest simply
    * DROPS `dropPaths`' entries — zero data read, zero data written, one
    * manifest CAS. The retention-job fast path ([[graft.sources.GraftTable]]
    * `deleteWhere` via Spark's `SupportsDeleteV2`): when a DELETE predicate
    * provably covers whole files ([[graft.sources.MetadataDelete]]), the
    * answer is this commit, not a rewrite — at 100 TB the difference
    * between O(manifest) and a day of data jobs (Iceberg/Delta do exactly
    * this for partition-aligned deletes). A dropped entry's deletion-vector
    * sidecar pointer drops with it. `dataChange=true`: rows logically left
    * the table, and with no `cdcDir` the change feed's file-diff fallback
    * emits the dropped files' live rows as deletes. Returns the new
    * version (the current one when nothing matches).
    *
    * `expectedParent` pins the commit to the manifest version the drop
    * set was COMPUTED against: a concurrent commit landing in between
    * then trips `commitAt`'s hard-link CAS (ConcurrentWriteException)
    * instead of silently publishing stale coverage on top of the newer
    * manifest (files added/rewritten in the covered range would survive,
    * keeping rows the predicate matched). Callers that compute coverage
    * and commit in one breath may omit it. */
  def metadataDeleteFiles(
      dropPaths: Set[String], expectedParent: Option[Int] = None): Int = {
    val parent = expectedParent.getOrElse(currentVersion)
    require(parent > 0, s"table ${config.tableName} does not exist")
    val m = manifest(parent)
    val (dropped, kept) = m.files.partition(e => dropPaths.contains(e.path))
    if (dropped.isEmpty) return parent
    commitAt(parent, Nil, kept, structFromJson(m.schemaJson),
      mappingOpt = Some((m.columnMapping, m.effectiveUsedPhysical)))
  }

  /** Rewrite every deletion-vectored file WITHOUT its deleted rows and
    * clear the vectors — the MOR "compaction" that bounds read-side
    * subtraction cost. O(vectored file bytes); a rewrite-only commit
    * (dataChange=false: logical content is unchanged), so change-feed
    * consumers receive nothing. Vectored files are BIN-PACKED like
    * [[compact]] (within each hive partition dir; minKey-ordered bins, so
    * range-clustered inputs stay range-clustered): purging N vectored
    * files costs ~N/bin jobs and folds their sprawl in the same pass —
    * not N single-file jobs. Returns the new version (current when no
    * file carries a vector). */
  def purgeDeletionVectors(targetPartitions: Int = 1): Int = {
    val parent = currentVersion
    require(parent > 0, s"table ${config.tableName} does not exist")
    val m = manifest(parent)
    val (vectored, clean) = m.files.partition(_.dvPath.isDefined)
    if (vectored.isEmpty) return parent
    val v = parent + 1
    val verSeg = f"v$v%05d-" + java.util.UUID.randomUUID
      .toString.replace("-", "").substring(0, 8)
    val verDir = root.resolve(verSeg)
    val schema = structFromJson(m.schemaJson)
    def seg(e: FileEntry): Option[String] =
      e.path.split('/').dropRight(1)
        .find(s => config.partitionKey.exists(pk => s.startsWith(pk + "=")))
    // bins group files of the SAME partition segment (None = segment-less
    // old layout, which keeps the partition column in its bytes — see the
    // drop rule below; the two layouts never mix in one output file)
    val binned: Seq[(Option[String], Vector[FileEntry])] =
      vectored.groupBy(seg).toSeq.sortBy(_._1).flatMap { case (sg, fs) =>
        compactionBins(m, fs, targetPartitions).map(sg -> _)
      }
    import scala.collection.parallel.CollectionConverters._
    withStatFriendlyTimestamps {
      binned.zipWithIndex.par.foreach { case ((sg, b), i) =>
        val outDir = sg.fold(verDir.resolve(f"purge-$i%04d"))(s2 =>
          verDir.resolve(s2).resolve(f"purge-$i%04d"))
        // drop the partition column ONLY when the rewrite lands under a
        // pk=value segment that re-derives it; a segment-less bin (old
        // layout after alterPartitionKey, or flat pre-partitioning) keeps
        // the column in its bytes — dropping both would null it forever
        val frame0 = readFiles(m, b).coalesce(1)
        val frame =
          if (sg.isDefined) frame0.drop(config.partitionKey.toSeq: _*)
          else frame0
        val physFrame =
          if (m.columnMapping.isEmpty) frame
          else frame.select(frame.columns.toSeq.map(c =>
            col(c).as(m.physicalName(c))): _*)
        physFrame.write.mode("overwrite").parquet(outDir.toString)
      }
    }
    val fresh = statFiles(verDir, schema, m.columnMapping)
    if (config.bloomIndex) writeBlooms(verDir, fresh, schema)
    commitAt(parent, fresh, clean, schema, dataChange = false,
      mappingOpt = Some((m.columnMapping, m.effectiveUsedPhysical)))
  }

  /** Small-file compaction: rewrite the current snapshot's files whose size
    * is below `smallBytes` into ~`targetPartitions` bin-packed files,
    * carrying large files over untouched. The COW answer to CDC-induced file
    * sprawl (every merge writes a few small files; compaction folds them
    * back — SURVEY.md §7.5 north-star op). Returns the new version (or the
    * current one when there is nothing to compact).
    *
    * SHUFFLE-FREE: small files are size-bin-packed driver-side (pure
    * metadata), each bin `coalesce(1)`s its files into one output
    * partition, and the bins write in parallel — no Exchange, no
    * repartition of every small-file byte through one global shuffle (at
    * 100 TB a year of CDC sprawl compacts at IO cost, not shuffle cost).
    * Bins are built over files ORDERED BY minKey, so range-clustered inputs
    * yield range-clustered outputs (merge pruning stays tight). Each bin is
    * its own scan→coalesce(1)→write job — submitted concurrently, so bin
    * parallelism matches a cluster's scheduler, not a single union plan
    * (Spark 4 zips same-partitioned union children into ONE partition, which
    * would serialize the rewrite AND fold all bins into one file).
    * PARTITIONED tables bin-pack within each hive partition directory and
    * write into the same escaped `pk=value` segment — identical per-bin
    * Exchange-free jobs, `targetPartitions` applying per partition value. */
  def compact(smallBytes: Long = 32L << 20, targetPartitions: Int = 1,
      partitionValue: Option[String] = None): Int = {
    val parent = currentVersion
    require(parent > 0, s"table ${config.tableName} does not exist")
    require(partitionValue.isEmpty || config.partitionKey.isDefined,
      s"table ${config.tableName} is not partitioned")
    val m = manifest(parent)
    // partition-scoped compaction: fold ONLY the named partition value's
    // small files ("compact yesterday's partition") — at scale the hot
    // recent partition sprawls while the cold ones are already folded, and
    // touching them again is pure wasted IO. Files outside the scope carry
    // over untouched.
    val (small, large) = m.files.partition(e =>
      inPartitionScope(e, partitionValue) &&
        java.nio.file.Files.size(root.resolve(e.path)) < smallBytes)
    if (small.size <= 1) return parent // nothing to fold
    val schema = structFromJson(m.schemaJson)
    val verSeg = f"v${parent + 1}%05d-" + java.util.UUID.randomUUID
      .toString.replace("-", "").substring(0, 8)
    val verDir = root.resolve(verSeg)
    // bins to rewrite, each tagged with the output subdirectory it folds
    // into. PARTITIONED tables bin-pack WITHIN each hive partition dir (the
    // escaped `pk=value` path segment is reused verbatim for the output, so
    // partition-value pruning keeps working) — the same Exchange-free
    // per-bin rewrite as the flat path, NOT a global repartition of every
    // small-file byte through one shuffle. A partition value with a single
    // small file carries over untouched (rewriting it is pure wasted IO).
    val (binned: Seq[(String, Vector[FileEntry])], carryExtra: Seq[FileEntry]) =
      config.partitionKey match {
        case None => (compactionBins(m, small, targetPartitions)
          .map("" -> _), Nil)
        case Some(pk) =>
          def seg(e: FileEntry): Option[String] =
            e.path.split('/').dropRight(1).find(_.startsWith(pk + "="))
          // a file without a path-borne value (flat pre-partitioning
          // layout) cannot be re-laid-out without a shuffle — carry it
          val (seggable, flat) = small.partition(e => seg(e).isDefined)
          val groups = seggable.groupBy(e => seg(e).get).toSeq.sortBy(_._1)
          val (multi, single) = groups.partition(_._2.size > 1)
          (multi.flatMap { case (sg, fs) =>
            compactionBins(m, fs, targetPartitions).map(sg -> _)
          }, flat ++ single.flatMap(_._2))
      }
    if (binned.isEmpty) return parent
    // one independent scan→coalesce(1)→write job per bin, submitted in
    // parallel (Spark schedules concurrent jobs from multiple threads);
    // each job's plan is Exchange-free by construction. Partition columns
    // live in the directory name, never in the file (hive contract), so
    // the bin frame drops them before writing.
    import scala.collection.parallel.CollectionConverters._
    withStatFriendlyTimestamps {
      binned.zipWithIndex.par.foreach { case ((sg, b), i) =>
        val outDir =
          if (sg.isEmpty) verDir.resolve(f"bin-$i%04d")
          else verDir.resolve(sg).resolve(f"bin-$i%04d")
        val frame = compactionBinFrame(m, b)
          .drop(config.partitionKey.toSeq: _*)
        // bin frames read back to LOGICAL names — restore physical on write
        val physFrame =
          if (m.columnMapping.isEmpty) frame
          else frame.select(frame.columns.toSeq.map(c =>
            col(c).as(m.physicalName(c))): _*)
        physFrame.write.mode("overwrite").parquet(outDir.toString)
      }
    }
    val freshC = statFiles(verDir, schema, m.columnMapping)
    if (config.bloomIndex) writeBlooms(verDir, freshC, schema)
    commitAt(parent, freshC, large ++ carryExtra, schema, dataChange = false,
      mappingOpt = Some((m.columnMapping, m.effectiveUsedPhysical)))
  }

  /** Does `e` live in the named hive partition value (None = everything)?
    * Path-borne, hive-unescaped — the scope test behind partition-scoped
    * [[compact]] and [[optimize]]. */
  private def inPartitionScope(
      e: FileEntry, partitionValue: Option[String]): Boolean =
    partitionValue.forall { v =>
      config.partitionKey.exists { pk =>
        e.path.split('/').dropRight(1).find(_.startsWith(pk + "="))
          .map(seg => org.apache.spark.sql.catalyst.catalog
            .ExternalCatalogUtils.unescapePathName(
              seg.substring(pk.length + 1)))
          .contains(v)
      }
    }

  /** OPTIMIZE ZORDER (Delta/Hudi clustering surface): rewrite the current
    * snapshot ordered along a Morton curve over `clusterBy` (default: the
    * stat-tracked key columns), so every output file covers a small
    * hyper-rectangle of the key space — tight per-file [min,max] on ALL
    * cluster columns at once, where `clusterByKey`'s lexicographic range
    * split only tightens the leading one. Composite-key merge pruning, the
    * SQL-MERGE runtime filter, and DSv2 key-range scans all sharpen; the
    * bloom index (if on) is rebuilt for the new files.
    *
    * A reorganization commit (`dataChange=false`): same rows, new layout —
    * the change feed and the streaming source skip it. Cost: one
    * approxQuantile pass for the numeric-family columns (skew-robust 8-bit
    * range ids, see [[ZOrder]]) plus one hash-sampled distinct-value pass
    * per STRING column (deterministic value sample sorted in Spark's UTF-8
    * order → evenly-spaced split literals — the one-pass string range id
    * that lets the reference's string `category` key
    * (/root/reference/cdk.json:71) cluster), then one range-exchange write;
    * at 100 TB it runs per partition-era or post-compaction, not per
    * commit — and `partitionValue` scopes the rewrite to ONE hive
    * partition ("z-order yesterday's partition"): only that partition's
    * files (and rows) are read, quantiled, and rewritten, everything else
    * carries over untouched, so the cost is O(hot partition), not
    * O(table).
    *
    * @param targetPartitions output file count (0 ⇒ keep the current count)
    * @param partitionValue   restrict the rewrite to this hive partition
    */
  def optimize(clusterBy: Seq[String] = config.primaryKey.take(2),
      targetPartitions: Int = 0,
      partitionValue: Option[String] = None,
      full: Boolean = false): Int = {
    val parent = currentVersion
    require(parent > 0, s"table ${config.tableName} does not exist")
    require(clusterBy.nonEmpty, "optimize needs >=1 cluster column")
    require(partitionValue.isEmpty || config.partitionKey.isDefined,
      s"table ${config.tableName} is not partitioned")
    val m = manifest(parent)
    val (inScope, carried0) = m.files.partition(e =>
      inPartitionScope(e, partitionValue))
    // INCREMENTAL by default: files already clustered under this exact
    // signature carry over untouched — repeated OPTIMIZE costs O(new files)
    // (see [[FileEntry.zorderBy]]). `full = true` forces a whole re-cluster
    // (tightest interleaving, e.g. after heavy churn left many clustered
    // groups whose z-ranges overlap).
    val sig = clusterBy.mkString(",")
    val (alreadyClustered, scoped) =
      if (full) (Nil, inScope)
      else inScope.partition(_.zorderBy.contains(sig))
    val carried = carried0 ++ alreadyClustered
    if (scoped.isEmpty) return parent
    val df = readFiles(m, scoped)
    val missing = clusterBy.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"optimize: cluster columns not in table: ${missing.mkString(", ")}")
    val stringCols = clusterBy.filter(k =>
      df.schema(k).dataType == org.apache.spark.sql.types.StringType)
    val numericCols = clusterBy.filterNot(stringCols.contains)
    val casted = numericCols.map { k =>
      val dt = df.schema(k).dataType
      val ok = dt.isInstanceOf[NumericType] ||
        dt == org.apache.spark.sql.types.TimestampType ||
        dt == org.apache.spark.sql.types.TimestampNTZType ||
        dt == org.apache.spark.sql.types.DateType
      require(ok, s"graft optimize: z-order needs numeric/date/timestamp/" +
        s"string columns; $k is ${dt.simpleString}")
      s"__zr_$k" -> KeyPrune.keyStatColumn(col(k), dt, spark).cast("double")
    }
    val tmp = casted.foldLeft(df) { case (d, (n, c)) => d.withColumn(n, c) }
    val probes = (1 until (1 << ZOrder.Bits)).map(_.toDouble / (1 << ZOrder.Bits)).toArray
    val numSplits: Map[String, org.apache.spark.sql.Column] =
      if (casted.isEmpty) Map.empty
      // relErr 0.01: rank buckets only need to be ROUGHLY even (a split a
      // percentile off moves rows one adjacent 8-bit rank, which barely
      // perturbs the interleave) — the 10× looser sketch is far cheaper
      // per pass and OPTIMIZE runs it over every un-clustered file
      else casted.map(_._1).zip(tmp.stat.approxQuantile(
        casted.map(_._1).toArray, probes, 0.01)).map { case (n, sp) =>
        n -> ZOrder.rankColumn(col(n), sp.toSeq.distinct.sorted)
      }.toMap
    val strSplits: Map[String, org.apache.spark.sql.Column] = stringCols.map { k =>
      k -> ZOrder.rankStringColumn(col(k), stringRangeSplits(df, k))
    }.toMap
    val ranked = clusterBy.map(k =>
      if (stringCols.contains(k)) strSplits(k) else numSplits(s"__zr_$k"))
    val nOut =
      if (targetPartitions > 0) targetPartitions
      else math.max(1, scoped.size)
    val shaped = config.partitionKey match {
      // hive layout survives; the curve orders rows WITHIN each partition
      case Some(pk) => tmp.withColumn("__z", ZOrder.zvalue(ranked))
        .repartition(col(pk)).sortWithinPartitions(col(pk), col("__z"))
      case None => tmp.withColumn("__z", ZOrder.zvalue(ranked))
        .repartitionByRange(nOut, col("__z"))
    }
    val out = shaped.drop("__z").drop(casted.map(_._1): _*)
    writeVersion(out, structFromJson(m.schemaJson), carried, parent,
      dataChange = false, preshaped = true, fileTag = Some(sig))
  }

  /** One-pass range splits for a STRING cluster column: the DISTINCT value
    * set (map-side-combined — mass duplicates collapse before the shuffle),
    * capped to a bounded deterministic sample by ranking values on their
    * content hash and taking the lowest 65536 (a TakeOrdered, so both
    * membership and order are pure functions of the value set — identical
    * across runs and partitionings; a plain `limit` would keep whichever
    * partitions answered first). Low-cardinality columns — the common
    * clustering shape, e.g. the reference's string `category` key — fall
    * under the cap and are sampled EXACTLY, never thinned to nothing.
    * Collected values sort in Spark's binary UTF-8 order (NOT Java's UTF-16
    * compareTo — ranks must be monotone under the engine's own `<=`), and
    * 255 evenly-spaced split literals are drawn. */
  private[storage] def stringRangeSplits(
      df: DataFrame, k: String,
      buckets: Int = 1 << ZOrder.Bits): Seq[String] = {
    val vals = df.select(col(k).cast("string").as("__v"))
      .where(col("__v").isNotNull)
      .distinct()
      .orderBy(xxhash64(col("__v")), col("__v"))
      .limit(65536)
      .collect().map(_.getString(0))
      .sorted(CowTable.utf8Ordering)
    if (vals.isEmpty) Nil
    else (1 until buckets)
      .map(i => vals(((i.toLong * vals.length) / buckets).toInt))
    // splits are deliberately NOT deduplicated: with few distinct values a
    // repeated split literal counts once per repeat in the rank comparison,
    // spreading ranks across the full 8-bit space — otherwise the column's
    // high rank bits are constant zero and the interleave is silently
    // dominated by the other cluster columns
  }

  /** Size-balanced compaction bins: first-fit packing of `small` (ordered by
    * minKey, stat-less files last — range-clustered inputs yield
    * range-clustered outputs) into ~`targetPartitions` groups. Pure driver-
    * side metadata. Package-visible for plan-asserting specs. */
  private[storage] def compactionBins(
      m: CommitManifest, small: Seq[FileEntry],
      targetPartitions: Int): Seq[Vector[FileEntry]] = {
    val sized = small.map(e =>
      (e, java.nio.file.Files.size(root.resolve(e.path))))
    val ordered =
      if (m.keyNumeric)
        sized.sortBy { case (e, _) =>
          (e.minKey.isEmpty,
            e.minKey.map(BigDecimal(_)).getOrElse(BigDecimal(0)))
        }
      else sized.sortBy { case (e, _) =>
        (e.minKey.isEmpty, e.minKey.getOrElse(""))
      }(Ordering.Tuple2(Ordering.Boolean, CowTable.utf8Ordering))
    // 5% slack absorbs per-file size jitter (equal-sized inputs would
    // otherwise overflow the last slot of every bin and double the bin count)
    val binTarget = math.max(1L,
      math.ceil(1.05 * sized.map(_._2).sum /
        math.max(1, targetPartitions)).toLong)
    val bins = scala.collection.mutable.ListBuffer[Vector[FileEntry]]()
    var cur = Vector.empty[FileEntry]
    var curBytes = 0L
    ordered.foreach { case (e, sz) =>
      if (cur.nonEmpty && curBytes + sz > binTarget) {
        bins += cur; cur = Vector.empty; curBytes = 0L
      }
      cur = cur :+ e; curBytes += sz
    }
    if (cur.nonEmpty) bins += cur
    bins.toSeq
  }

  /** One bin's rewrite plan: scan of exactly its files folded to one output
    * partition — no Exchange (package-visible for plan assertions). */
  private[storage] def compactionBinFrame(
      m: CommitManifest, bin: Seq[FileEntry]): DataFrame =
    readFiles(m, bin).coalesce(1)

  /** Shared guard for both change-feed entry points. */
  private def requireFeedRange(fromVersion: Int, toVersion: Int): Unit = {
    require(fromVersion >= 0 && fromVersion <= toVersion
      && toVersion <= currentVersion, "bad version range")
    require(fromVersion >= earliestReadableVersion - 1,
      s"change feed from $fromVersion crosses vacuumed versions (earliest " +
        s"readable: $earliestReadableVersion)")
  }

  /** Union a per-commit plan list without unbounded Catalyst growth: past
    * [[CowTable.FeedChunkCommits]] branches, each chunk is
    * materialized via an eager localCheckpoint — a lineage cut, so a month
    * of hourly commits (720) analyzes ~23 bounded subplans instead of one
    * 720-branch Catalyst tree (O(commits) driver memory + analysis time).
    * Short feeds (the common incremental-consumer case) stay fully lazy —
    * no checkpoint, no early job. Trade-off, eyes open: checkpointing is
    * EAGER (a feed over hundreds of commits runs its chunk jobs at
    * construction)
    * and the blocks are executor-local (an executor lost mid-read cannot
    * recompute them — on a cluster with decommissioning, set a reliable
    * checkpoint dir and swap to `checkpoint()`).
    * The alternative — a thousand-branch union — fails the analyzer
    * outright, which is worse than either cost. */
  private def unionBounded(parts: Seq[DataFrame]): DataFrame = {
    if (parts.size <= CowTable.FeedChunkCommits) parts.reduce(_.unionAll(_))
    else parts.grouped(CowTable.FeedChunkCommits)
      .map(g => g.reduce(_.unionAll(_)).localCheckpoint())
      .reduce(_.unionAll(_))
  }

  def changedFiles(fromVersion: Int, toVersion: Int): Seq[FileEntry] = {
    requireFeedRange(fromVersion, toVersion)
    val out = scala.collection.mutable.LinkedHashMap[String, FileEntry]()
    var prev: Set[String] =
      if (fromVersion == 0) Set.empty
      else manifest(fromVersion).files.map(_.path).toSet
    ((fromVersion + 1) to toVersion).foreach { v =>
      val m = manifest(v)
      if (m.dataChange)
        m.files.filterNot(f => prev(f.path)).foreach(f => out(f.path) = f)
      prev = m.files.map(_.path).toSet
    }
    out.values.toSeq
  }

  /** Change feed: rows in files added by DATA commits between `fromVersion`
    * (exclusive) and `toVersion` (inclusive) — the incremental-consumption
    * surface (Delta CDF-lite). COW invariant makes this exact for inserts/
    * updates: every touched row is rewritten into a new file; deletes are
    * absences (pair with the manifest diff of removed files when tombstones
    * matter). Rewrite-only commits (compaction, rollback — dataChange=false)
    * are skipped, so consumers never re-receive compacted rows; files a later
    * compaction removed stay readable (COW never deletes), so the walk is
    * exact even with interleaved compactions. O(files·versions) metadata,
    * reads only the changed files. On a deletionVectors table a DV delete
    * adds no files, so (consistent with the adds-only contract) it emits
    * nothing here — use [[readChangeFeed]] for tombstones, which such
    * tables always materialize (the config fence). */
  def readChanges(fromVersion: Int, toVersion: Int): DataFrame = {
    val m = manifest(toVersion)
    readFiles(m, changedFiles(fromVersion, toVersion))
  }

  /** File sets read by [[diffSnapshots]]: the files present in exactly one
    * of the two manifests. Package-private so specs can assert the
    * O(changed-files) claim without timing heuristics. */
  private[storage] def diffFileSets(
      v1: Int, v2: Int): (Seq[FileEntry], Seq[FileEntry]) = {
    val m1 = manifest(v1)
    val m2 = manifest(v2)
    // an entry is "the same file" only when its PATH and its DELETION
    // VECTOR agree — a DV-only commit changes rows behind an unchanged
    // path, so both versions' entries enter the compare (their unchanged
    // co-located rows cancel in the full-outer join, same as a verbatim
    // rewrite; cost O(vectored files), never O(table))
    def key(e: FileEntry) = (e.path, e.dvPath, e.dvRows)
    val k1 = m1.files.map(key).toSet
    val k2 = m2.files.map(key).toSet
    (m1.files.filterNot(f => k2(key(f))), m2.files.filterNot(f => k1(key(f))))
  }

  /** Snapshot reconciliation DIFF between two committed versions: one row
    * per primary key whose row differs, labeled `added` / `removed` /
    * `changed` — the audit/repair primitive ("what did last night's
    * pipeline actually do to this table?") that CDC can't answer once the
    * feed is compacted or the range spans a clone.
    *
    * O(changed files), NOT O(table): under copy-on-write a data file is
    * immutable once written, so any file path present in BOTH manifests is
    * byte-identical and cannot contribute a difference — only files unique
    * to one side are read, then a key-level full-outer compare runs on
    * that subset. A compaction that rewrote rows verbatim reads its files
    * but emits nothing (row contents compare equal). Keys resident only in
    * common files never enter the join at all.
    *
    * Schema evolution between the versions is handled by name: the compare
    * struct spans the UNION of both schemas' non-key columns (sorted by
    * name), null-filling a column the other version lacks — so an
    * evolved-in column with a non-null value reads as `changed`. */
  def diffSnapshots(v1: Int, v2: Int): DataFrame = {
    require(v1 >= 1 && v2 >= 1 && v1 <= currentVersion &&
      v2 <= currentVersion, s"diffSnapshots: bad versions $v1, $v2")
    val m1 = manifest(v1)
    val m2 = manifest(v2)
    val s1 = structFromJson(m1.schemaJson)
    val s2 = structFromJson(m2.schemaJson)
    val (only1, only2) = diffFileSets(v1, v2)
    val keys = config.primaryKey
    val dataTypes = (s1.fields ++ s2.fields)
      .map(f => f.name -> f.dataType).toMap -- keys
    val names = dataTypes.keys.toSeq.sorted
    def sideStruct(df: DataFrame, schema: StructType): DataFrame = {
      val cols = names.map { n =>
        if (schema.fieldNames.contains(n)) col(n).cast(dataTypes(n)).as(n)
        else lit(null).cast(dataTypes(n)).as(n)
      }
      df.select(keys.map(col) :+ struct(cols: _*).as("__row"): _*)
    }
    val a = sideStruct(readFiles(m1, only1), s1)
      .withColumnRenamed("__row", "__a")
    val b = sideStruct(readFiles(m2, only2), s2)
      .withColumnRenamed("__row", "__b")
    a.join(b, keys, "full_outer")
      .withColumn("change",
        when(col("__a").isNull, "added")
          .when(col("__b").isNull, "removed")
          .otherwise("changed"))
      .filter(col("__a").isNull || col("__b").isNull ||
        !(col("__a") <=> col("__b")))
      .select(keys.map(col) :+ col("change"): _*)
  }

  /** [[readChanges]] plus a `_commit_version` column stamping each row with
    * the commit that added its file — what an upsert-applying consumer needs
    * to order multi-commit feeds (a key updated twice in the range appears
    * twice; latest version wins). */
  def readChangesWithVersion(fromVersion: Int, toVersion: Int): DataFrame = {
    requireFeedRange(fromVersion, toVersion)
    val mTo = manifest(toVersion)
    val schema = structFromJson(mTo.schemaJson)
    var prev: Set[String] =
      if (fromVersion == 0) Set.empty
      else manifest(fromVersion).files.map(_.path).toSet
    val parts = ((fromVersion + 1) to toVersion).flatMap { v =>
      val m = manifest(v)
      val added =
        if (m.dataChange) m.files.filterNot(f => prev(f.path)) else Nil
      prev = m.files.map(_.path).toSet
      if (added.isEmpty) None
      else Some(readFiles(mTo, added).withColumn("_commit_version", lit(v)))
    }
    if (parts.isEmpty)
      conform(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
        schema).withColumn("_commit_version", lit(0))
    else unionBounded(parts)
  }

  /** Full change-data-feed with DELETE TOMBSTONES (Delta CDF parity): every
    * row carries `_commit_version` + `_commit_timestamp` plus
    * `_change_type` ∈ {`insert`, `update_preimage`, `update_postimage`,
    * `delete`} — the surface an incremental consumer of the reference's
    * delete path needs (a plain added-files feed surfaces deletes only as
    * absences; the reference's MERGE delete,
    * /root/reference/src/iceberg/iceberg-cdc-load.py:147-150, removes rows a
    * real CDF must hand downstream as tombstones).
    *
    * Derivation is pure manifest diffing + one full-outer key join per
    * commit, each side O(changed files) — never a snapshot scan:
    *   - added files' rows vs removed files' rows (the pre-images),
    *     null-safe-joined on the primary key;
    *   - both present  → an `update_preimage` row (old values) AND an
    *     `update_postimage` row (new values), Delta's paired contract;
    *   - added only    → `insert`,
    *   - removed only  → `delete` (PRE-image values — the tombstone carries
    *     the last row state, like Delta's `_change_type='delete'`).
    *
    * COW makes this exact per MARKED file (a mutation rewrites only files
    * holding a matched key): a rewritten file's unchanged co-located rows
    * classify as `update_postimage` with identical values (file-granularity
    * false-positive churn — same caveat as [[readChangesWithVersion]]; a
    * one-row-per-file layout removes it). Mutations materialize `_cdc`
    * files, which carry only the changed rows.
    * Rewrite-only commits (`dataChange=false`, e.g. compaction) emit
    * nothing. Rollback commits classify naturally: restored rows as
    * insert/update, rows the rollback dropped as deletes. */
  def readChangeFeed(fromVersion: Int, toVersion: Int): DataFrame = {
    requireFeedRange(fromVersion, toVersion)
    val mTo = manifest(toVersion)
    val schema = structFromJson(mTo.schemaJson)
    val keys = config.primaryKey
    val marker = "__graft_present"
    var prevFiles: Seq[FileEntry] =
      if (fromVersion == 0) Nil else manifest(fromVersion).files
    val parts = ((fromVersion + 1) to toVersion).flatMap { v =>
      val m = manifest(v)
      val ts = new java.sql.Timestamp(m.commitTimeMs)
      val out = if (!m.dataChange) None
      else if (m.cdcDir.isDefined) {
        // materialized change rows (TableConfig.changeDataFeed): read them
        // directly — row-exact, join-free. Columns conform to the feed
        // schema at toVersion (evolved-in columns null-fill). Change dirs
        // are write-once like version segments — schema memo applies.
        val cdc = readSegGroup(m.cdcDir.get,
          Seq(root.resolve(m.cdcDir.get).toString), mTo.physicalTypes)
        val cdfGen = mTo.partitionSpec.map(PartitionTransform.parse)
        val cols = schema.fields.toSeq.map { f =>
          val p = mTo.physicalName(f.name) // change files store physical names
          (if (cdc.columns.contains(p)) col(p).cast(f.dataType)
           // a change file predating the column fills its initial default —
           // the same value a snapshot read of those rows reports — except
           // the GENERATED partition column, derivable from its source
           else cdfGen match {
             case Some(t) if f.name == t.name &&
                 cdc.columns.contains(mTo.physicalName(t.source)) =>
               t.applyTo(col(mTo.physicalName(t.source))).cast(f.dataType)
             case _ => ColumnDefaults.fillExpr(f)
           }).as(f.name)
        }
        Some(cdc.select(cols ++ Seq(
          lit(v).as("_commit_version"),
          lit(ts).as("_commit_timestamp"), col("_change_type")): _*))
      } else {
        // entry identity includes the deletion-vector state: a file whose
        // sidecar changed in place (a branch fast-forward squashes DV
        // deletes into one commit) is a rewrite — old view removed, new
        // view added — or its deleted keys would never reach the feed
        def ident(f: FileEntry) = (f.path, f.dvPath, f.dvRows)
        val prevSet = prevFiles.map(ident).toSet
        val curSet = m.files.map(ident).toSet
        val added = m.files.filterNot(f => prevSet(ident(f)))
        val removed = prevFiles.filterNot(f => curSet(ident(f)))
        if (added.isEmpty && removed.isEmpty) None
        else {
          val a = readFiles(mTo, added).withColumn(marker, lit(1)).alias("a")
          val r = readFiles(mTo, removed).withColumn(marker, lit(1)).alias("r")
          val cond = keys.map(k => col(s"a.$k") <=> col(s"r.$k"))
            .reduce(_ && _)
          val aPresent = col(s"a.$marker").isNotNull
          val rPresent = col(s"r.$marker").isNotNull
          // a matched key emits TWO rows (pre + post image — same contract
          // as the materialized path), so the row set is built as an array
          // per join row and exploded: still one join, no double execution
          def image(side: String, tpe: String) = struct(
            schema.fields.toSeq.map(f => col(s"$side.${f.name}").as(f.name)) :+
              lit(tpe).as("_change_type"): _*)
          val rows = when(!aPresent, array(image("r", "delete")))
            .when(!rPresent, array(image("a", "insert")))
            .otherwise(array(image("r", "update_preimage"),
              image("a", "update_postimage")))
          Some(a.join(r, cond, "full_outer")
            .select(explode(rows).as("__c"))
            .select(schema.fields.toSeq.map(f =>
              col(s"__c.${f.name}").as(f.name)) ++ Seq(
              lit(v).as("_commit_version"),
              lit(ts).as("_commit_timestamp"),
              col("__c._change_type").as("_change_type")): _*))
        }
      }
      prevFiles = m.files
      out
    }
    if (parts.isEmpty)
      conform(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
        schema).withColumn("_commit_version", lit(0))
        .withColumn("_commit_timestamp", lit(null).cast("timestamp"))
        .withColumn("_change_type", lit(""))
        .limit(0)
    else unionBounded(parts)
  }

  /** Iceberg-style PARTITION SPEC EVOLUTION: record a new hive partition
    * key (or None = unpartitioned) in a METADATA-ONLY commit — no file is
    * rewritten. Old-layout files keep carrying their partition value in
    * the directory name ([[readFiles]] recovers it per version dir via
    * basePath inference; the other partition column always lives in the
    * file bytes, because each layout only drops ITS OWN key from files),
    * new writes lay out under the new key, and any rewrite (upsert,
    * compact) adopts the new spec for the rows it touches — Iceberg's
    * exact evolution contract (spec changes apply to NEW data; old data
    * keeps its layout until naturally rewritten). Partition-value-scoped
    * compact/optimize on the new key skip old-layout files (no new-key
    * path segment → carried untouched).
    *
    * Returns the handle to keep using — `this` is stale after the call. */
  def alterPartitionKey(newKey: Option[String]): CowTable =
    alterPartitionSpec(newKey)

  /** Full partition-spec evolution (Iceberg REPLACE PARTITION FIELD):
    * `to` names an identity column, a transform spec (`hour(ts)`,
    * `bucket(16,c)`, ...), or None to un-partition. Metadata-only — old
    * files keep their layout forever (readable via per-era basePath
    * inference), new writes adopt the new spec, and the retired transform
    * is recorded in [[CommitManifest.priorSpecs]] so scans keep PRUNING
    * old-era files by replaying source predicates through their own era's
    * transform. The retired GENERATED column leaves the schema (it was
    * path-borne, never stored bytes); the new one is derived on read for
    * files that predate it.
    *
    * Returns the handle to keep using — `this` is stale after the call. */
  def alterPartitionSpec(to: Option[String]): CowTable = {
    val parent = currentVersion
    require(parent > 0, s"table ${config.tableName} does not exist")
    val m = manifest(parent)
    val schema0 = structFromJson(m.schemaJson)
    val oldT = config.partitionTransform
    val (newKey, newT) = to match {
      case Some(s) if s.contains("(") =>
        (None, Some(PartitionTransform.parse(s)))
      case other => (other, None)
    }
    newKey.foreach { k =>
      require(schema0.fieldNames.contains(k) && !oldT.exists(_.name == k),
        s"partition column $k is not in the table schema (identity " +
          "evolution targets a DATA column, not a generated one)")
    }
    newT.foreach { t =>
      require(schema0.fieldNames.contains(t.source) &&
        !oldT.exists(_.name == t.source),
        s"partition transform ${t.spec}: source column '${t.source}' is " +
          "not a data column of the table schema")
      // the generated column's NAME keys hive path segments: two eras
      // sharing a name with DIFFERENT semantics would make old-era path
      // values unprunable-or-wrong under the new transform's replay
      require(!oldT.exists(o => o.name == t.name && o.spec != t.spec),
        s"partition transform ${t.spec} generates column '${t.name}', " +
          s"which the retiring spec ${oldT.get.spec} also generated with " +
          "different semantics — evolve through a different transform kind")
      require(!m.priorSpecs.map(PartitionTransform.parse).exists(p =>
        p.name == t.name && p.spec != t.spec),
        s"partition transform ${t.spec} generates column '${t.name}', " +
          "already used by a retired spec with different semantics")
      // a generated column may land on a name already IN the schema only
      // when that name is itself the current/retired generated column
      // being re-adopted — landing on a LIVE DATA column would silently
      // overwrite it on every subsequent write, and old files' stored
      // bytes would read as the generated column (GenFill skips in-file
      // slots), corrupting data without a sound
      val generatedNames: Set[String] = oldT.map(_.name).toSet ++
        m.priorSpecs.map(s => PartitionTransform.parse(s).name)
      require(!schema0.fieldNames.contains(t.name) ||
        generatedNames.contains(t.name),
        s"partition transform ${t.spec} generates column '${t.name}', " +
          "which is a live DATA column of the table schema — pick a " +
          "different transform name")
      // a DROPPED DATA column's physical slot may still hold bytes in old
      // files — a generated column landing on that name would read them
      require(schema0.fieldNames.contains(t.name) ||
        !m.effectiveUsedPhysical.contains(t.name) ||
        (m.priorSpecs ++ config.partitionSpec.toSeq).contains(t.spec),
        s"generated column '${t.name}' collides with a physical slot " +
          "burned by a dropped/renamed column — pick a different transform")
    }
    oldT.foreach { o =>
      require(!liveCheckConstraints.exists(_.contains(o.name)),
        s"cannot retire generated column ${o.name}: a CHECK constraint " +
          "references it — drop the constraint first")
    }
    val dropped = oldT.map(_.name).toSet
    val base = StructType(schema0.fields.filterNot(f => dropped(f.name)))
    val schema1 = newT match {
      case Some(t) if !base.fieldNames.contains(t.name) =>
        StructType(base.fields :+ StructField(t.name,
          PartitionTransform.outputType(t, schema0(t.source).dataType),
          nullable = true))
      case _ => base
    }
    val evolved = new CowTable(spark, rootDir,
      config.copy(partitionKey = newKey,
        partitionSpec = newT.map(_.spec))).withClock(clockMs)
    // explicit mapping: the retiring generated column's name stays burned
    // (effectiveUsedPhysical keeps it via the parent schema), and a
    // RE-ADOPTED prior spec may legitimately reuse its own old name
    evolved.commitAt(parent, Nil, m.files, schema1, dataChange = false,
      mappingOpt = Some((m.columnMapping,
        (m.effectiveUsedPhysical ++ newT.map(_.name)).distinct)))
    evolved
  }

  /** Rollback: make `version` current again by committing a NEW version
    * whose file list is version's (metadata-only — no data is copied or
    * deleted, and the rolled-back versions stay time-travelable). */
  def rollbackTo(version: Int): Int = {
    val parent = currentVersion
    require(version >= 1 && version <= parent, s"bad rollback target $version")
    require(version >= earliestReadableVersion,
      s"cannot roll back to vacuumed version $version")
    val m = manifest(version)
    val v = parent + 1
    // dataChange=true: a rollback logically changes table content (restored
    // rows must reach change-feed consumers) even though no data is copied.
    // The copied manifest must NOT carry the TARGET's cdcDir — those are
    // the target commit's own changes, and a feed read of v would re-emit
    // them as the restore's (silently wrong rows). A CDF table instead
    // materializes the restore DIFF (current snapshot vs restored snapshot
    // by key; identical-row churn from intervening rewrites filters out),
    // so the file-partition feed serves the rollback exactly; non-CDF
    // tables keep None (the API file-diff branch still answers).
    val pm = manifest(parent)
    val cdc = replaceCdc(m, pm.files, m.files,
      structFromJson(m.schemaJson), forVersion = v,
      scannedManifest = Some(pm))
    commitManifest(m.copy(version = v, parent = parent, dataChange = true,
      commitTimeMs = clockMs(), cdcDir = cdc))
    v
  }

  /** Latest version whose commit time is <= `tsMs` — `TIMESTAMP AS OF`
    * resolution ([[CowTable.versionAsOfAt]]; commit times are stamped by
    * the injectable [[withClock]] clock). */
  def versionAsOf(tsMs: Long): Int = CowTable.versionAsOfAt(root, tsMs)

  /** Time-travel by timestamp (`TIMESTAMP AS OF` — the Delta/Iceberg surface
    * VERSION-only travel lacked); subject to the same vacuum low-water mark
    * as [[readVersion]]. */
  def readAsOf(tsMs: Long): DataFrame = readVersion(versionAsOf(tsMs))

  /** TAG (Iceberg ref): a named IMMUTABLE pointer to a committed version —
    * the release-pinning primitive (a training-corpus release is "the
    * table at tag corpus-2024-08", reproducible forever). One file per tag
    * under `_manifests/_tags/`, created with the same hard-link CAS as
    * commits: creation is atomic and a second `tag` of an existing name
    * fails loudly instead of silently moving a release. [[vacuum]] never
    * expires a tagged version (the low-water mark stops at the lowest
    * tag), so `VERSION AS OF '<name>'` keeps resolving after any amount
    * of retention churn. O(1) metadata; no data copied.
    *
    * @return the version the tag pinned */
  def tag(name: String, version: Int = -1): Int = {
    require(name.matches(CowTable.TagName),
      s"tag name '$name' must match ${CowTable.TagName}")
    val cur = currentVersion
    require(cur > 0, s"table ${config.tableName} does not exist")
    val v = if (version == -1) cur else version
    require(v >= 1 && v <= cur, s"tag target $v out of range 1..$cur")
    require(v >= earliestReadableVersion,
      s"cannot tag vacuumed version $v")
    val dir = manifestDir.resolve("_tags")
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, "_tag", ".tmp")
    Files.writeString(tmp, v.toString)
    try Files.createLink(dir.resolve(name + ".tag"), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"tag '$name' already exists at version ${tags(name)} — tags " +
            "are immutable (drop it first to re-pin)")
    } finally Files.deleteIfExists(tmp)
    v
  }

  /** All tags: name → pinned version. */
  def tags: Map[String, Int] = CowTable.tagsAt(root)

  /** Remove a tag (metadata-only; the version stays time-travelable until
    * vacuum's retention passes it). */
  def dropTag(name: String): Unit = {
    val f = manifestDir.resolve("_tags").resolve(name + ".tag")
    require(Files.exists(f), s"no tag '$name' on ${config.tableName}")
    Files.delete(f)
  }

  /** Snapshot at a tag — `VERSION AS OF '<name>'`. */
  def readTag(name: String): DataFrame =
    readVersion(tags.getOrElse(name, throw new IllegalArgumentException(
      s"no tag '$name' on ${config.tableName} (tags: " +
        s"${tags.keys.toSeq.sorted.mkString(", ")})")))

  private def branchesDir: Path = root.resolve("_branches")

  /** BRANCH (Iceberg writable ref): an isolated WRITABLE fork of the
    * current snapshot — the write-audit-publish (WAP) primitive. Where a
    * [[tag]] is an immutable pointer, a branch is a full table rooted at
    * `<root>/_branches/<name>`: the fork is a [[shallowClone]] (O(files)
    * hard-linked metadata, zero data copied), so the entire write surface
    * — upsert, delete, MERGE, OPTIMIZE, expectations audits — runs on the
    * branch without main readers ever seeing an unaudited row. Publishing
    * is [[fastForward]]. The fork version is recorded so publish can
    * verify main never moved (the WAP contract: what was audited is
    * exactly what goes live).
    *
    * @return the branch's table handle (its v1 = the forked snapshot) */
  def createBranch(name: String): CowTable = {
    require(name.matches(CowTable.TagName),
      s"branch name '$name' must match ${CowTable.TagName}")
    val dir = branchesDir.resolve(name)
    require(!Files.exists(dir),
      s"branch '$name' already exists on ${config.tableName} — drop it " +
        "first (branches do not silently re-fork)")
    val fork = currentVersion
    require(fork > 0, s"table ${config.tableName} does not exist")
    val b = shallowClone(dir.toString)
    Files.writeString(dir.resolve("_branch_meta.json"),
      s"""{"fork": $fork}""")
    b.withClock(clockMs)
  }

  /** Open an existing branch as a writable table handle. */
  def branch(name: String): CowTable = {
    val dir = branchesDir.resolve(name)
    require(Files.exists(dir.resolve("_branch_meta.json")),
      s"no branch '$name' on ${config.tableName} (branches: " +
        s"${branches.mkString(", ")})")
    val m = CowTable.manifestAt(dir, CowTable.currentVersionAt(dir))
    new CowTable(spark, dir.toString, m.tableConfig(config.tableName))
      .withClock(clockMs)
  }

  /** All branch names on this table. */
  def branches: Seq[String] = {
    if (!Files.isDirectory(branchesDir)) return Nil
    scala.util.Using.resource(Files.list(branchesDir))(
      _.iterator().asScala.toSeq)
      .filter(d => Files.exists(d.resolve("_branch_meta.json")))
      .map(_.getFileName.toString).sorted
  }

  /** The main-table version a branch forked from. */
  def branchForkVersion(name: String): Int = {
    val meta = branchesDir.resolve(name).resolve("_branch_meta.json")
    require(Files.exists(meta),
      s"no branch '$name' on ${config.tableName}")
    """"fork"\s*:\s*(\d+)""".r.findFirstMatchIn(Files.readString(meta))
      .map(_.group(1).toInt).getOrElse(throw new IllegalStateException(
        s"corrupt branch meta $meta"))
  }

  /** Delete a branch (its un-published data dirs go with it; files shared
    * with main are hard links, so main — and anything already published —
    * is untouched). */
  def dropBranch(name: String): Unit = {
    require(Files.exists(branchesDir.resolve(name)
      .resolve("_branch_meta.json")),
      s"no branch '$name' on ${config.tableName}")
    CowTable.deleteRecursively(branchesDir.resolve(name))
  }

  /** PUBLISH a branch: fast-forward main to the branch head in ONE commit.
    * Iceberg's `fast_forward` contract — allowed only while main still
    * sits at the branch's fork version; if main advanced, the audit ran
    * against a stale state and publish fails LOUD (re-fork and re-audit
    * instead of silently merging). The branch head's new data files and
    * deletion-vector sidecars are hard-linked into the main root (branch
    * writer-unique dir names cannot collide), then the branch head's file
    * list, schema, column mapping, stats columns, and constraints commit
    * onto main's chain under the standard CAS — a racing main writer
    * loses cleanly. O(files changed on the branch) links + one metadata
    * commit; squash semantics (intermediate branch states do not replay
    * into main's history; on changeDataFeed tables the feed across the
    * publish commit is the manifest-diff NET change, deletion-vector
    * deltas included). The branch survives publish (drop it explicitly).
    *
    * @return main's new version (or its current one if the branch never
    *         committed past the fork) */
  def fastForward(name: String): Int = {
    val broot = branchesDir.resolve(name)
    val fork = branchForkVersion(name) // also asserts the branch exists
    val cur = currentVersion
    require(cur == fork,
      s"fast_forward '$name' on ${config.tableName}: main advanced from " +
        s"the fork version $fork to $cur since the branch was created — " +
        "the audited branch state is stale; re-create the branch from " +
        "the current snapshot and re-audit")
    val bv = CowTable.currentVersionAt(broot)
    if (bv <= 1) return cur // branch never committed past the fork
    val bm = CowTable.manifestAt(broot, bv)
    require(bm.partitionKey == manifest(cur).partitionKey &&
      bm.partitionSpec == manifest(cur).partitionSpec,
      s"fast_forward '$name': the branch evolved the partition layout " +
        s"(${bm.partitionKey}/${bm.partitionSpec}) — publish of a " +
        "re-partitioned branch is not supported; clone instead")
    def linkInto(rel: String): Unit = {
      val dst = root.resolve(rel)
      if (!Files.exists(dst)) {
        Files.createDirectories(dst.getParent)
        try Files.createLink(dst, broot.resolve(rel))
        catch { // cross-device / unsupported FS: copy preserves semantics
          case _: UnsupportedOperationException | _: java.io.IOException =>
            if (!Files.exists(dst)) // racing linker got there first: fine
              Files.copy(broot.resolve(rel), dst)
        }
      }
    }
    bm.files.foreach { e =>
      linkInto(e.path)
      if (Files.exists(broot.resolve(e.path + ".bloom")))
        linkInto(e.path + ".bloom")
    }
    bm.files.flatMap(_.dvPath).distinct.foreach { dvp =>
      val srcDir = broot.resolve(dvp)
      if (Files.isDirectory(srcDir))
        scala.util.Using.resource(Files.list(srcDir))(
          _.iterator().asScala.toSeq)
          .filter(Files.isRegularFile(_))
          .foreach(p => linkInto(dvp + "/" + p.getFileName.toString))
    }
    // commit with the BRANCH head's durable config (branch-side ALTERs —
    // added constraints, widened stats columns — publish with the data)
    val pub = new CowTable(spark, rootDir, bm.tableConfig(config.tableName))
      .withClock(clockMs)
    pub.commitAt(cur, bm.files, Nil, structFromJson(bm.schemaJson),
      mappingOpt = Some((bm.columnMapping, bm.effectiveUsedPhysical)),
      statsColumnsOpt = Some(bm.statsColumns),
      checkConstraintsOpt = Some(bm.checkConstraints))
  }

  /** TABLE INTEGRITY VALIDATION (fsck): does the manifest's picture of the
    * current snapshot match reality, and do the table's own invariants
    * hold? One row per check — all `ok` means a reader can trust every
    * pruning/merge shortcut the engine takes:
    *
    *  - `files_exist`      — every manifest-referenced data file is on
    *                         disk (a lost file = silent data loss at scan);
    *  - `dv_sidecars_exist`— every referenced deletion-vector sidecar dir
    *                         exists (a lost sidecar RESURRECTS deleted
    *                         rows);
    *  - `row_counts_match` — per-file footer row counts equal the manifest
    *                         (stats feed COUNT(*) pushdown and CBO);
    *  - `key_unique`       — the primary key is globally unique (the
    *                         invariant every merge/upsert shortcut assumes;
    *                         raw appends can silently violate it).
    *
    * Metadata checks are O(files) driver IO; `key_unique` is the one
    * distributed aggregate. Returns (check, ok, detail). */
  def validate(): DataFrame = {
    import spark.implicits._
    val cur = currentVersion
    require(cur > 0, s"table ${config.tableName} does not exist")
    val m = manifest(cur)
    val missing = m.files.filterNot(e => Files.exists(root.resolve(e.path)))
    val missingDv = m.files.flatMap(_.dvPath).distinct
      .filterNot(p => Files.isDirectory(root.resolve(p)))
    // footer row counts, in parallel like statFiles; unreadable files
    // count as mismatches (they would fail the scan anyway)
    import scala.collection.parallel.CollectionConverters._
    val countMismatch = m.files.filter(e =>
      Files.exists(root.resolve(e.path))).par.flatMap { e =>
      val got = Try {
        import scala.jdk.CollectionConverters._
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(root.resolve(e.path).toUri),
            spark.sessionState.newHadoopConf()))
        try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally r.close()
      }.getOrElse(-1L)
      if (got == e.rows) None else Some(s"${e.path}: manifest=${e.rows} " +
        s"footer=$got")
    }.seq.toSeq
    // the uniqueness scan READS the table — it cannot run over the very
    // corruption the metadata checks just found (a missing file/sidecar
    // would crash it); report it un-validated instead
    val keyRow: (String, Boolean, String) =
      if (missing.nonEmpty || missingDv.nonEmpty)
        ("key_unique", false,
          "not checked: missing files/sidecars (fix those first)")
      else {
        val dup = read().groupBy(config.primaryKey.map(col): _*)
          .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
          .limit(5).collect()
        ("key_unique", dup.isEmpty,
          dup.take(3).map(_.toString).mkString("; "))
      }
    def row(check: String, bad: Seq[String]): (String, Boolean, String) =
      (check, bad.isEmpty,
        if (bad.isEmpty) "" else bad.take(3).mkString("; "))
    Seq(
      row("files_exist", missing.map(_.path)),
      row("dv_sidecars_exist", missingDv),
      row("row_counts_match", countMismatch),
      keyRow
    ).toDF("check", "ok", "detail")
  }

  /** Commit log as a DataFrame (DESCRIBE HISTORY analog): one row per
    * version with parent, row count, file count, and the dataChange flag.
    * O(versions) manifest reads — pure metadata, no data scanned. */
  def history(): DataFrame = {
    import spark.implicits._
    (1 to currentVersion).map { v =>
      val m = manifest(v)
      (v, m.parent, m.rowCount, m.files.size.toLong, m.dataChange,
        m.commitTimeMs)
    }.toDF("version", "parent", "row_count", "n_files", "data_change",
      "commit_time_ms")
  }

  /** GENERATE symlink_format_manifest (Delta's Presto/Athena/Redshift-
    * Spectrum integration — exactly the surface the reference provisions
    * with its symlink-manifest crawler + second catalog,
    * cdk_stacks/glue_stack.py:262-279, README.md:51-52): write text files
    * under `_symlink_format_manifest/` listing the absolute data-file URIs
    * of the CURRENT snapshot — one `manifest` per hive partition directory
    * (partitioned tables) or a single one (flat), so a manifest-reading
    * external engine queries the transactional table without graft and
    * never sees an uncommitted or replaced file. Regenerate after commits
    * (same contract as Delta's GENERATE). O(files) metadata, no data read.
    *
    * Deletion-vectored files are fenced loud — an external engine reading
    * raw parquet would resurrect their deleted rows (purge first).
    *
    * @return the root-relative paths of the written manifest files */
  def generateSymlinkManifest(): Seq[String] = {
    val cur = currentVersion
    require(cur > 0, s"table ${config.tableName} does not exist")
    val m = manifest(cur)
    require(m.files.forall(_.dvPath.isEmpty),
      "symlink manifests cannot represent deletion vectors — run " +
        "purgeDeletionVectors() first (raw-parquet readers would " +
        "resurrect deleted rows)")
    val base = root.resolve("_symlink_format_manifest")
    // wipe stale manifests (a partition emptied since the last generate
    // must not keep serving its old file list)
    if (Files.exists(base)) CowTable.deleteRecursively(base)
    val bySeg: Map[String, Seq[FileEntry]] = m.files.groupBy { e =>
      e.path.split('/').dropRight(1)
        .find(s => config.partitionKey.exists(pk => s.startsWith(pk + "=")))
        .getOrElse("")
    }.map { case (k, v) => (k, v.toSeq) }
    bySeg.toSeq.sortBy(_._1).map { case (seg, fs) =>
      val dir = if (seg.isEmpty) base else base.resolve(seg)
      Files.createDirectories(dir)
      val body = fs.map(e => root.resolve(e.path).toUri.toString)
        .sorted.mkString("", "\n", "\n")
      val tmp = Files.createTempFile(dir, "_manifest", ".tmp")
      Files.writeString(tmp, body)
      Files.move(tmp, dir.resolve("manifest"),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      root.relativize(dir.resolve("manifest")).toString
    }
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE ... CLONE` re-expressed): fork the
    * current snapshot into `destDir` at ZERO data-copy cost. Every live data
    * file (and bloom sidecar) is hard-linked into the clone root under its
    * original root-relative path — O(files) metadata ops, no bytes moved, so
    * a 100 TB table forks in seconds; the manifest is copied with the
    * source's per-file stats VERBATIM (no footer re-stat, the other O(files)
    * cost). Safe because COW discipline never mutates a data file in place:
    * the shared inodes are immutable, every write on either side creates
    * new files, and each root owns its own directory entries — vacuum or
    * delete on one side never perturbs the other. The clone starts a fresh
    * history at version 1 (its change feed replays the snapshot as inserts,
    * its time travel starts at the fork), carrying the source's durable
    * table properties. A destination on another filesystem (no hard links
    * possible) degrades to a per-file copy — same result, real IO.
    *
    * This is the experiment-branch primitive a training pipeline wants:
    * fork the corpus, dedup/filter/repack the fork, keep the original
    * bit-identical. */
  def shallowClone(destDir: String, cloneName: Option[String] = None)
      : CowTable = {
    val cur = currentVersion
    require(cur > 0, s"table ${config.tableName} does not exist")
    val m = manifest(cur)
    val destRoot = Paths.get(destDir).toAbsolutePath
    require(!Files.exists(destRoot.resolve("_manifests")),
      s"shallowClone: destination $destDir already holds a table")
    require(destRoot != root, "shallowClone: destination is the source")
    val cfg = m.tableConfig(cloneName.getOrElse(config.tableName))
    val dest = new CowTable(spark, destDir, cfg)
    def linkInto(rel: String): Unit = {
      val src = root.resolve(rel)
      val dst = destRoot.resolve(rel)
      Files.createDirectories(dst.getParent)
      try Files.createLink(dst, src)
      catch { // cross-device / unsupported-FS: copy is the correct fallback
        case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    m.files.foreach { e =>
      linkInto(e.path)
      if (cfg.bloomIndex && Files.exists(root.resolve(e.path + ".bloom")))
        linkInto(e.path + ".bloom")
    }
    // deletion-vector sidecar dirs ride along (entries reference them by
    // root-relative path — without the link a cloned vectored table would
    // fail to read, or resurrect rows after the source vacuums)
    m.files.flatMap(_.dvPath).distinct.foreach { dvp =>
      val srcDir = root.resolve(dvp)
      if (Files.isDirectory(srcDir))
        scala.util.Using.resource(Files.list(srcDir))(
          _.iterator().asScala.toSeq)
          .filter(Files.isRegularFile(_))
          .foreach(p => linkInto(dvp + "/" + p.getFileName.toString))
    }
    dest.commitAt(0, m.files, Nil, structFromJson(m.schemaJson),
      mappingOpt = Some((m.columnMapping, m.effectiveUsedPhysical)))
    dest
  }

  /** Physically delete data files referenced ONLY by versions older than the
    * last `retainLast` ones (the VACUUM of Delta/Iceberg `expire_snapshots`).
    * Copy-on-write shares files across versions, so this is reachability-
    * based: a file written at v1 but still referenced by the current manifest
    * is live and survives. Old manifests are kept (O(files) metadata —
    * [[history]] stays complete); their data may be gone, so time travel
    * below the advanced [[earliestReadableVersion]] low-water mark is
    * rejected rather than failing mid-scan. Returns the deleted paths.
    *
    * Also sweeps ORPHANS: version directories (and `_cdc/` children) that
    * no committed manifest references — the litter of CAS losers on
    * create/overwrite races (a loser's files are never referenced; without
    * a sweep a long-lived busy table slowly leaks storage, exactly why
    * Delta's VACUUM collects unreferenced files). Reference-checking alone
    * cannot distinguish a dead loser from an IN-FLIGHT writer's directory
    * (rebased appends commit files under their original attempt's dir
    * name), so orphans are age-guarded: only directories last modified more
    * than `orphanOlderThanMs` ago are swept — Delta's retention discipline,
    * with Delta's 7-day default (a long-running compaction or bulk load can
    * legitimately hold an uncommitted version dir for hours; sweeping it
    * mid-flight would silently drop its rows at commit).
    */
  def vacuum(retainLast: Int = 2,
      orphanOlderThanMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    val cur = currentVersion
    require(cur > 0, s"table ${config.tableName} does not exist")
    require(retainLast >= 1, "must retain at least the current version")
    // tags pin retention: the low-water mark never passes the lowest
    // tagged version, so a pinned release stays readable forever
    val lowestTag = tags.values.minOption.getOrElse(Int.MaxValue)
    val firstRetained =
      math.max(earliestReadableVersion,
        math.min(cur - retainLast + 1, lowestTag))
    def refs(v: Int): Seq[String] = {
      val m = manifest(v)
      m.files.map(_.path) ++ m.files.flatMap(_.dvPath)
    }
    val live: Set[String] = (firstRetained to cur).flatMap(refs).toSet
    val doomed = (1 until firstRetained)
      .flatMap(refs).distinct.filterNot(live)
    // publish the low-water mark BEFORE deleting: a crash mid-delete then
    // leaves only extra undeleted files (re-collected by a later vacuum);
    // the delete-first order would leave readVersion admitting versions
    // whose files are gone, failing mid-scan instead of up front.
    val tmp = manifestDir.resolve("_vacuumed.tmp")
    Files.writeString(tmp, firstRetained.toString)
    Files.move(tmp, manifestDir.resolve("_vacuumed"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    doomed.foreach { p =>
      val t = root.resolve(p)
      if (Files.isDirectory(t)) CowTable.deleteRecursively(t) // dv sidecar dir
      else Files.deleteIfExists(t)
      Files.deleteIfExists(root.resolve(p + ".bloom")) // index sidecar
    }
    // materialized change dirs of expired versions (manifest-referenced
    // only — an unreferenced _cdc dir may belong to an in-flight writer)
    (1 until firstRetained).foreach { v =>
      manifest(v).cdcDir.foreach(d =>
        CowTable.deleteRecursively(root.resolve(d)))
    }
    doomed ++ sweepOrphans(cur, orphanOlderThanMs)
  }

  /** AGE-based retention (the Delta `VACUUM ... RETAIN n HOURS` shape):
    * retains every version that was CURRENT at any instant inside the
    * window — i.e. back to (and including) the newest version committed at
    * or before `now − retainMs`, so `TIMESTAMP AS OF` anywhere in the
    * window keeps resolving — then delegates to [[vacuum]]'s
    * reachability + tag-pinning logic. Uses the injectable commit clock,
    * so retention tests are deterministic. */
  def vacuumOlderThan(retainMs: Long): Seq[String] = {
    val cur = currentVersion
    require(cur > 0, s"table ${config.tableName} does not exist")
    require(retainMs >= 0, "retainMs must be non-negative")
    val v = CowTable.versionAtOrBefore(root, clockMs() - retainMs).getOrElse(1)
    vacuum(retainLast = cur - v + 1)
  }

  /** Unreferenced version dirs + `_cdc/` children older than the age guard
    * (see [[vacuum]]). Returns the swept root-relative dir paths. */
  private def sweepOrphans(cur: Int, olderThanMs: Long): Seq[String] = {
    val refSegs: Set[String] = (1 to cur).iterator.flatMap { v =>
      val m = manifest(v)
      m.files.iterator.map(_.path.takeWhile(_ != '/')) ++
        m.files.iterator.flatMap(_.dvPath).map(_.takeWhile(_ != '/')) ++
        m.cdcDir.iterator
    }.toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    def sweep(dir: Path, rel: String => String): Seq[String] = {
      if (!Files.isDirectory(dir)) return Nil
      val it = Files.list(dir)
      try it.iterator().asScala.toSeq
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.matches("v\\d+-.*") &&
          !refSegs(rel(p.getFileName.toString)) &&
          Files.getLastModifiedTime(p).toMillis <= cutoff)
        .map { p =>
          CowTable.deleteRecursively(p)
          rel(p.getFileName.toString)
        }
      finally it.close()
    }
    sweep(root, identity) ++ sweep(root.resolve("_cdc"), "_cdc/" + _) ++
      sweepManifestSidecars(cutoff)
  }

  /** Orphaned parquet-checkpoint sidecars in `_manifests/`: a writer that
    * crashed between [[ManifestCheckpoint.write]] and the CAS link (or a
    * CAS loser that died before its own cleanup) leaves a
    * `v%05d-<uuid>.files.parquet` no manifest references — only the
    * committed manifest of the SAME version can reference a sidecar (the
    * name embeds its version), so each sidecar checks one JSON file. The
    * same age guard as dir orphans applies: an in-flight writer holds its
    * sidecar unreferenced between write and link. */
  private def sweepManifestSidecars(cutoff: Long): Seq[String] = {
    if (!Files.isDirectory(manifestDir)) return Nil
    val Sidecar = ("""(v\d{5})-.*\Q""" + ManifestCheckpoint.Suffix +
      """\E""").r
    val it = Files.list(manifestDir)
    val candidates =
      try it.iterator().asScala.toSeq.filter(p =>
        Sidecar.pattern.matcher(p.getFileName.toString).matches() &&
          Files.getLastModifiedTime(p).toMillis <= cutoff)
      finally it.close()
    candidates.flatMap { p =>
      val name = p.getFileName.toString
      val vjson = manifestDir.resolve(name.takeWhile(_ != '-') + ".json")
      val referenced = Files.exists(vjson) &&
        (org.json4s.jackson.JsonMethods.parse(Files.readString(vjson)) \
          "filesParquet").toOption
          .exists(_.values == name)
      if (referenced) None
      else { Files.deleteIfExists(p); Some("_manifests/" + name) }
    }
  }

  // ---- internals ----------------------------------------------------------

  /** Timestamp/date keys prune NUMERICALLY on their physical integers
    * (micros / days since epoch) — that is the form parquet footer stats
    * arrive in, and `CAST(ts AS STRING)` datetime text would compare
    * garbage against it (a silent way to misclassify files as untouched
    * and duplicate rows on merge). */
  private def statKeyNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case org.apache.spark.sql.types.TimestampType => true
    case org.apache.spark.sql.types.TimestampNTZType => true
    case org.apache.spark.sql.types.DateType => true
    case _ => false
  }

  /** Directory prefix of a relative file path up to (excluding) the first
    * hive `k=v` segment — the basePath hive-partition inference needs. The
    * delta write path nests hive dirs under per-kind subdirs
    * (`<verSeg>/u/...`, `<verSeg>/i/...`), so the version segment alone is
    * not always the inference root: mixing the two kinds under one
    * basePath trips CONFLICTING_DIRECTORY_STRUCTURES. */
  private def inferenceBase(p: String): String =
    p.split('/').dropRight(1).takeWhile(!_.contains('=')).mkString("/")

  /** `spark.read.parquet` over one inference-base group, with an explicit
    * schema: the group's DATA-FILE schema memoized per base
    * ([[CowTable.segSchemaCache]]) plus each hive column named in `paths`
    * typed by `declared` (physical name → manifest type).
    *
    * The memo saves a 1-task footer-inference job (~40-100 ms with
    * scheduling) per read on the driver's critical path; a merge re-reads
    * the same immutable version segments several times (merge target, CDC
    * preimages, constraint checks). A version segment is written exactly
    * once under a writer-unique UUID name, so its files' schema can never
    * change — the memo is pure metadata reuse, the data itself is re-read
    * from parquet on every call. Hive path columns are not in the memo:
    * their values live in the paths, and they take the declared type, the
    * same typing the DSv2 scan applies through [[CowTable.pathPartValue]].
    * Spark's value-set inference would type a subset's values by what they
    * look like (`p=007` alone reads as int 7, cast back to "7"). Only a path
    * column with no declared type (e.g. a dropped old partition key) is
    * still inferred. */
  private def readSegGroup(base: String, paths: Seq[String],
      declared: Map[String, DataType]): DataFrame = {
    val baseAbs = root.resolve(base).toString
    val rdr = spark.read.option("basePath", baseAbs)
    val hiveCols = paths.flatMap(_.substring(baseAbs.length).split('/')
      .dropRight(1).filter(_.contains('=')).map(s => s.take(s.indexOf('='))))
      .distinct
    val data = Option(CowTable.segSchemaCache.get(baseAbs)).getOrElse {
      val inferred = StructType(rdr.parquet(paths: _*).schema.fields
        .filterNot(f => hiveCols.contains(f.name)))
      CowTable.prefillSegSchema(baseAbs, inferred)
      inferred
    }
    val typed = hiveCols.flatMap(c => declared.get(c).map(StructField(c, _)))
    rdr.schema(StructType(data.fields ++ typed)).parquet(paths: _*)
  }

  /** Read a set of manifest files, reconciling to `m`'s schema (files written
    * by older commits may predate added columns — null-fill + cast, the read
    * side of schema-merge-on-write). Files are grouped by the version segment
    * they live in so hive-style partition-value inference (basePath) works
    * per group. DELETION-VECTOR files, grouped by (version seg, sidecar):
    * marked positions are subtracted before conform — one broadcast
    * anti-join per sidecar against its (root-relative path, row position)
    * rows (a sidecar is O(deleted rows), transient until the next rewrite).
    * `positions` keeps two columns, `__rel` (root-relative file path) and
    * `__pos` (parquet row index): the input side of a DV mutation's match
    * scan (a re-mark never re-marks a subtracted position). */
  private[storage] def readFiles(m: CommitManifest, files: Seq[FileEntry],
      positions: Boolean = false): DataFrame = {
    val schema = structFromJson(m.schemaJson)
    if (files.isEmpty) // a local relation: the optimizer prunes joins on it
      return spark.createDataFrame(java.util.Collections.emptyList[Row], schema)
    // the current generated partition column, derivable for old-era files
    // that predate the spec (partition-spec evolution)
    val genFill = m.partitionSpec.map(PartitionTransform.parse)
    val declared = m.physicalTypes
    val rootAbs = root.toString
    val kept = if (positions) Seq(col("__rel"), col("__pos")) else Nil
    files.groupBy(e =>
      (e.dvPath.isDefined, inferenceBase(e.path), e.dvPath.getOrElse("")))
      .toSeq.sortBy(_._1).map { case ((vectored, base, dvp), fs) =>
        val raw = readSegGroup(base,
          fs.map(f => root.resolve(f.path).toString), declared)
        val withPos = if (!positions && !vectored) raw else raw
          .withColumn("__rel",
            expr(s"substring(regexp_replace(_metadata.file_path, " +
              s"'^file:', ''), ${rootAbs.length + 2})"))
          .withColumn("__pos", col("_metadata.row_index"))
        val alive = if (!vectored) withPos else {
          val dv = spark.read.schema(CowTable.dvSchema)
            .parquet(root.resolve(dvp).toString)
            .select(col("path").as("__dv_path"), col("pos").as("__dv_pos"))
          withPos.join(broadcast(dv), withPos("__rel") === dv("__dv_path") &&
            withPos("__pos") === dv("__dv_pos"), "left_anti")
        }
        conform(alive, schema, m.columnMapping, genFill, kept)
      }.reduce(_.union(_))
  }

  /** Project to exactly `schema`'s columns/order/types, resolving each
    * LOGICAL field through the column mapping to the PHYSICAL name files
    * store; absent columns become typed nulls (both columns the file
    * predates and physical slots of dropped predecessors vanish here —
    * hive path columns already arrive in their declared types). */
  private def conform(df: DataFrame, schema: StructType,
      mapping: Map[String, String] = Map.empty,
      genFill: Option[PartitionTransform] = None,
      kept: Seq[Column] = Nil): DataFrame = {
    val present = df.columns.toSet
    // absence is PER VERSION GROUP (readFiles reads each writer-unique
    // version dir separately), so "file predates the column" — fill the
    // initial default — never collides with "stored null" (the column is
    // physically present in every file of a post-add group)
    df.select(schema.fields.toSeq.map { f =>
      val p = mapping.getOrElse(f.name, f.name)
      (if (present(p)) col(p).cast(f.dataType)
       // the CURRENT spec's GENERATED partition column, absent from an
       // old-era file group (partition-spec evolution: the value lives in
       // NEW files' paths only) — derive it from the source column, the
       // same pure projection the write funnel computes. Exact by the
       // generated-column invariant; never a null-fill.
       else genFill match {
         case Some(t)
           if f.name == t.name &&
             present(mapping.getOrElse(t.source, t.source)) =>
           t.applyTo(col(mapping.getOrElse(t.source, t.source)))
             .cast(f.dataType)
         case _ => ColumnDefaults.fillExpr(f)
       }).as(f.name)
    } ++ kept: _*)
  }

  /** Scope `spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS` to a
    * graft TABLE write: INT64-micros timestamps carry parquet footer stats
    * (the session-default INT96 does not), so timestamp keys avoid the
    * columnar-scan stat fallback and [[TableConfig.statsColumns]] can skip
    * on time ranges. Deliberately NOT a session-wide setting — it would
    * retag every OTHER parquet the session writes (e.g. result dumps) as
    * UTC-adjusted, changing how non-Spark readers type them. */
  private def withStatFriendlyTimestamps[T](f: => T): T = {
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Write `df` as the data of version parent+1 (hive-style partitionBy when
    * configured, clustered so each partition value lands in few files —
    * reference INSERT ... ORDER BY partition_key,
    * src/iceberg/iceberg-initial-load.py:87-92), collect per-file key stats,
    * and commit manifest + atomic pointer. */
  private[storage] def writeVersion(
      df0: DataFrame, schema0: StructType,
      carryOver: Seq[FileEntry], parent: Int,
      dataChange: Boolean = true,
      preshaped: Boolean = false,
      cdcDir: Option[String] = None,
      mappingOpt: Option[(Map[String, String], Seq[String])] = None,
      rebase: Option[RebaseCtx] = None,
      fileTag: Option[String] = None): Int = {
    val (fresh, schema, mapping) =
      writeFiles(df0, schema0, parent, preshaped, mappingOpt, fileTag)
    commitFiles(parent, fresh, carryOver, schema, dataChange, cdcDir,
      mapping, rebase)
  }

  /** [[writeVersion]]'s write half: `df`'s rows as fresh data files of
    * version parent+1 in a writer-unique directory, with their stats.
    * Returns the entries, the written schema and its column mapping. */
  private def writeFiles(
      df0: DataFrame, schema0: StructType, parent: Int,
      preshaped: Boolean = false,
      mappingOpt: Option[(Map[String, String], Seq[String])] = None,
      fileTag: Option[String] = None)
      : (Seq[FileEntry], StructType, (Map[String, String], Seq[String])) = {
    // GENERATED partition column ([[TableConfig.partitionSpec]]): (re)
    // computed unconditionally inside the commit funnel — a pure projection
    // that makes drift from the source column impossible (Delta's generated
    // -column invariant) and lets upsert/merge batches omit the column.
    // Recomputation is idempotent (the transform is a pure function), so
    // preshaped reorganizations keep their distribution and order.
    val (df, schema) = config.partitionTransform match {
      case Some(t) =>
        require(schema0.fieldNames.contains(t.source),
          s"partition transform ${t.spec}: source column '${t.source}' " +
            "missing from the written schema")
        val gen = df0.withColumn(t.name, t.expr)
        val sch =
          if (schema0.fieldNames.contains(t.name)) schema0
          else org.apache.spark.sql.types.StructType(
            schema0.fields :+ gen.schema(t.name))
        (gen.select(sch.fieldNames.toIndexedSeq.map(col): _*), sch)
      case None => (df0, schema0)
    }
    val v = parent + 1
    // COLUMN MAPPING: data files store PHYSICAL names. The mapping for this
    // commit (inherited from the parent, extended for evolved-in columns)
    // is resolved BEFORE the write so the rename-projection below and the
    // manifest agree; callers that already resolved it (upsert — its CDC
    // write needs the identical allocation) pass it in.
    val (mapping, usedPhys) = mappingOpt.getOrElse(CowTable.evolveMapping(
      if (parent >= 1) Some(manifest(parent)) else None, schema))
    val physDf =
      if (mapping.isEmpty) df
      else df.select(schema.fields.toSeq.map(f =>
        col(f.name).as(mapping.getOrElse(f.name, f.name))): _*)
    // Writer-UNIQUE data directory (Delta-style): two racing writers of the
    // same version can never clobber each other's files — the loser of the
    // manifest CAS leaves only unreferenced garbage, never a corrupted
    // winner. (A crashed writer's directory is equally inert.)
    val verSeg = f"v$v%05d" + "-" + java.util.UUID.randomUUID
      .toString.replace("-", "").substring(0, 8)
    val verDir = root.resolve(verSeg)
    // partition/cluster keys are rename-fenced ⇒ logical == physical names
    val writer =
      // caller already distributed+ordered the rows (z-order optimize):
      // re-shaping here would destroy that layout (the rename projection
      // above is narrow — it keeps the caller's distribution and order)
      if (preshaped) config.partitionKey match {
        case Some(k) => physDf.write.mode("overwrite").partitionBy(k)
        case None => physDf.write.mode("overwrite")
      }
      else config.partitionKey match {
        case Some(k) =>
          physDf.repartition(col(k)).write.mode("overwrite").partitionBy(k)
        case None if config.clusterByKey =>
          // disjoint per-file key ranges ⇒ minimal touch sets for future merges
          val n = math.max(1, physDf.rdd.getNumPartitions)
          physDf.repartitionByRange(n, config.primaryKey.map(col): _*)
            .write.mode("overwrite")
        case None => physDf.write.mode("overwrite")
      }
    val sized =
      if (config.maxRecordsPerFile > 0)
        writer.option("maxRecordsPerFile", config.maxRecordsPerFile)
      else writer
    withStatFriendlyTimestamps { sized.parquet(verDir.toString) }
    // prefill the segment-schema memo (readSegGroup): the writer KNOWS the
    // files' schema — the first read of this fresh segment should not pay
    // a footer-inference job. partitionBy moves the key column out of the
    // file bytes into the paths, so a hive layout's files hold the frame's
    // other columns.
    CowTable.prefillSegSchema(verDir.toString, StructType(physDf.schema
      .fields.filterNot(f => config.partitionKey.contains(f.name))))
    // Spark's writer always writes a file for the frame's first partition,
    // so an empty first partition leaves a 0-row file: drop it from a write
    // that made rows (an all-empty write keeps its entries)
    val fresh0 = statFiles(verDir, schema, mapping) match {
      case es if es.exists(_.rows > 0) =>
        val (kept, empty) = es.partition(_.rows > 0)
        empty.foreach { e =>
          val f = root.resolve(e.path)
          Files.deleteIfExists(f)
          Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
        }
        kept
      case es => es
    }
    (fileTag.fold(fresh0)(t => fresh0.map(_.copy(zorderBy = Some(t)))),
      schema, (mapping, usedPhys))
  }

  /** [[writeVersion]]'s commit half: bloom sidecars and CHECK constraints
    * for the `fresh` files, then the commit. */
  private def commitFiles(
      parent: Int, fresh: Seq[FileEntry], carryOver: Seq[FileEntry],
      schema: StructType, dataChange: Boolean, cdcDir: Option[String],
      mapping: (Map[String, String], Seq[String]),
      rebase: Option[RebaseCtx]): Int = {
    if (config.bloomIndex) writeBlooms(root, fresh, schema)
    // CHECK constraints validate the WRITTEN files pre-commit (one parallel
    // scan of the new data, same shape as the connector paths) — validating
    // the input plan instead would compute it twice AND let a
    // non-deterministic source slip unvalidated rows into the write.
    // Reorganizations (dataChange=false) carry already-validated rows.
    if (dataChange)
      enforceConstraintsOnFiles(fresh, schema, "write", mapping._1)
    commitWithRebase(parent, fresh, carryOver, schema, dataChange,
      cdcDir = cdcDir, mappingOpt = Some(mapping), rebase = rebase)
  }

  /** [[commitWithRebase]] for the DSv2 row-level path (SQL MERGE / UPDATE /
    * DELETE), where the source batch is gone by commit time: the key
    * footprint is the stat-range union of the files the op scanned plus the
    * files it wrote (see [[RebaseCtx]] for why that bounds every key the op
    * could interact with). Stats-conservative where the exact-key probe is
    * exact — a wide-range winner file forces the loud failure, never a
    * wrong rebase. */
  private[graft] def commitRowLevelRebased(
      parent: Int, fresh: Seq[FileEntry], carry: Seq[FileEntry],
      schema: StructType, touchedPaths: Set[String],
      footprint: Seq[FileEntry], cdcDir: Option[String] = None): Int =
    commitWithRebase(parent, fresh, carry, schema, dataChange = true,
      cdcDir = cdcDir, mappingOpt = None,
      rebase = Some(RebaseCtx(touchedPaths, None, footprint)))

  /** Materialized CDF for a GROUP-REPLACE commit (the SQL row-level COW
    * write — Spark's ReplaceData plan hands us replacement rows, not
    * per-row actions): the replaced files' LIVE rows full-outer-diffed
    * against their replacements by primary key. A row the rewrite carried
    * byte-identical (an untouched file-mate of a touched row) emits
    * NOTHING, so the feed records the operation's exact changes — the
    * same action-level contract the API paths materialize. One join over
    * O(replaced files), the standard CDF write amplification. Returns the
    * `_cdc` dir for the commit; None when the table doesn't feed. */
  private[graft] def replaceCdc(m: CommitManifest, scanned: Seq[FileEntry],
      fresh: Seq[FileEntry], commitSchema: StructType,
      forVersion: Int = -1,
      scannedManifest: Option[CommitManifest] = None): Option[String] = {
    if (!config.changeDataFeed || scanned.isEmpty) return None
    val mV = m.copy(schemaJson = commitSchema.json)
    val marker = "__graft_present"
    val a = readFiles(mV, fresh).withColumn(marker, lit(1)).alias("a")
    // the scanned side may come from a DIFFERENT schema era than the
    // commit (a rollback across a metadata-only type widening: current
    // INT64 files under the target's INT read-schema would fail at scan
    // time) — read it under ITS era's manifest (own schema + own column
    // mapping), then conform to the commit schema by PHYSICAL name:
    // physical slots are rename-stable, so a restore across a column
    // RENAME still diffs the renamed column's values (matching by logical
    // name would null-fill them). Null-fill only when the physical slot
    // is genuinely absent from the scanned era (rollback across an add).
    val r0 = scannedManifest match {
      case None => readFiles(mV, scanned)
      case Some(pm) =>
        val ss = structFromJson(pm.schemaJson)
        val raw = readFiles(pm, scanned)
        val byPhys = ss.fieldNames.map(n => pm.physicalName(n) -> n).toMap
        raw.select(commitSchema.fields.toSeq.map { f =>
          byPhys.get(mV.physicalName(f.name)) match {
            case Some(srcLogical) =>
              col(srcLogical).cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }: _*)
    }
    val r = r0.withColumn(marker, lit(1)).alias("r")
    val cond = config.primaryKey.map(k => col(s"a.$k") <=> col(s"r.$k"))
      .reduce(_ && _)
    // the full-outer diff is keyed: a DUPLICATE primary key on either side
    // (plain INSERT INTO does not enforce uniqueness) would cross-product
    // into spurious update pre/post rows. Detect (one agg over both sides)
    // and decline materialization — the feed then fails LOUDLY as a
    // rewrite instead of serving wrong change rows.
    val kc = config.primaryKey.map(col)
    val hasDup = a.select(kc: _*).withColumn("__side", lit("a"))
      .unionAll(r.select(kc: _*).withColumn("__side", lit("r")))
      .groupBy(col("__side") +: kc: _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).limit(1).head(1).nonEmpty
    if (hasDup) return None
    val aPresent = col(s"a.$marker").isNotNull
    val rPresent = col(s"r.$marker").isNotNull
    def image(side: String, tpe: String) = struct(
      commitSchema.fields.toSeq.map(f =>
        col(s"$side.${f.name}").as(f.name)) :+
        lit(tpe).as("_change_type"): _*)
    val identical = commitSchema.fields.toSeq.map(f =>
      col(s"a.${f.name}") <=> col(s"r.${f.name}")).reduce(_ && _)
    // a null array branch explodes to ZERO rows — the identical case
    // vanishes from the feed without needing a typed empty-array literal
    val rows = when(!aPresent, array(image("r", "delete")))
      .when(!rPresent, array(image("a", "insert")))
      .when(identical, lit(null))
      .otherwise(array(image("r", "update_preimage"),
        image("a", "update_postimage")))
    val changes = a.join(r, cond, "full_outer")
      .select(explode(rows).as("__c"))
      .select(commitSchema.fields.toSeq.map(f =>
        col(s"__c.${f.name}").as(f.name)) :+
        col("__c._change_type").as("_change_type"): _*)
    writeCdc(changes, if (forVersion > 0) forVersion else m.version + 1,
      m.columnMapping)
  }

  /** Commit `fresh` + carry-over, REBASING onto concurrent winners instead
    * of failing when the conflict is provably disjoint (Delta
    * WriteSerializable's logical rebase, decided from manifests alone —
    * zero data re-read or re-written, which is the whole point at 100 TB
    * where re-executing a large merge costs minutes):
    *
    *  - every winner must leave schema, column mapping, and CHECK
    *    constraints untouched (our fresh files were validated and
    *    physically named under the old ones);
    *  - no winner may have removed/rewritten a file this op READ
    *    (`touchedPaths`) — that would make the merge's inputs stale;
    *  - no winner-ADDED file may possibly contain one of the op's source
    *    keys (the exact key-set prune, [[KeyPrune.touched]], re-run against just
    *    the added files) — otherwise carrying both the winner's file and
    *    our merged output could duplicate or shadow a key. This is
    *    stats-conservative: a reorganization whose bins span wide key
    *    ranges can flag a false overlap and fall back to the loud failure;
    *    never the reverse.
    *
    * On pass: carry-over is recomputed from the WINNER's file set, less
    * the files this op replaced (so a winner's rewrite of files this op never read — a compaction of cold
    * partitions, another key range's merge — is carried forward verbatim)
    * and the commit retries at the new head, looping (bounded) if yet
    * another writer lands first. Ops that read the whole table
    * (create/overwrite/compact/optimize) pass no [[RebaseCtx]] and keep the
    * loud fail-fast contract. */
  private def commitWithRebase(
      parent0: Int, fresh: Seq[FileEntry], carry0: Seq[FileEntry],
      schema: StructType, dataChange: Boolean,
      cdcDir: Option[String],
      mappingOpt: Option[(Map[String, String], Seq[String])],
      rebase: Option[RebaseCtx]): Int = {
    val base = if (parent0 >= 1) Some(manifest(parent0)) else None
    // the parent's files this op replaces: a rebase carries every other
    // head file (an op may read more files than it replaces)
    lazy val dropped =
      base.fold(Set.empty[String])(_.files.map(_.path).toSet) --
        carry0.map(_.path)
    var parent = parent0
    var carry = carry0
    var attempts = 0
    while (true) {
      try return commitAt(parent, fresh, carry, schema, dataChange,
        cdcDir = cdcDir, mappingOpt = mappingOpt)
      catch {
        case e: ConcurrentWriteException =>
          // SAME-TRANSACTION concurrent replay: a winner already carrying
          // this op's (appId, version) marker means the work is done —
          // idempotent no-op (two replicas replaying one micro-batch commit
          // it exactly once), checked before any rebase reasoning
          txn match {
            case Some((id, tv)) =>
              val headT = currentVersion
              var wv = parent + 1
              while (wv <= headT) {
                val wm = manifest(wv)
                if (wm.streamQueryId.contains(id) &&
                    wm.streamEpochId.exists(_ >= tv)) {
                  txn = None
                  return headT
                }
                wv += 1
              }
            case None => ()
          }
          val ctx = rebase.getOrElse(throw e)
          attempts += 1
          val head = currentVersion
          if (attempts > CowTable.CommitRebaseAttempts || head <= parent ||
              base.isEmpty) throw e
          val b = base.get
          var wv = parent + 1
          while (wv <= head) {
            val wm = manifest(wv)
            // structural schema comparison (catalogString elides
            // nullability): a merge output's nullability drift (joins relax
            // it) is not a schema CHANGE
            if (structFromJson(wm.schemaJson).catalogString !=
                structFromJson(b.schemaJson).catalogString ||
              wm.columnMapping != b.columnMapping ||
              wm.checkConstraints != b.checkConstraints)
              throw new ConcurrentWriteException(
                s"version $wv of table ${config.tableName} changed the " +
                  "table's schema/mapping/constraints concurrently — " +
                  "cannot rebase; re-read the table and retry")
            val prevEntries = manifest(wv - 1).files
            val prevPaths = prevEntries.map(_.path).toSet
            val removed = prevPaths -- wm.files.map(_.path).toSet
            // an in-place deletion-vector change is a REWRITE for staleness
            // purposes: the path survives but its live rows changed, so a
            // writer that read the file pre-DV would resurrect deleted rows
            val prevDv = prevEntries.map(e => e.path -> e.dvPath).toMap
            val dvChanged = wm.files.filter(f =>
              prevDv.get(f.path).exists(_ != f.dvPath)).map(_.path).toSet
            if (((removed ++ dvChanged) & ctx.touchedPaths).nonEmpty)
              throw new ConcurrentWriteException(
                s"version $wv of table ${config.tableName} rewrote file(s) " +
                  "this operation read — its inputs are stale; re-read " +
                  "the table and retry")
            val added = wm.files.filterNot(f => prevPaths(f.path))
            val mayOverlap = added.nonEmpty && (ctx.source match {
              case Some(src) =>
                KeyPrune.touched(wm.copy(files = added), root, src)
                  .exists(_._1.nonEmpty)
              case None =>
                CowTable.keyRangesOverlap(added, ctx.footprint, wm.keyNumeric)
            })
            if (mayOverlap)
              throw new ConcurrentWriteException(
                s"version $wv of table ${config.tableName} added file(s) " +
                  "that may contain this operation's keys — cannot prove " +
                  "disjointness; re-read the table and retry")
            wv += 1
          }
          carry = manifest(head).files.filterNot(f => dropped(f.path))
          parent = head
      }
    }
    -1 // unreachable
  }

  /** Write a mutation's exact change rows (schema + `_change_type`) to a
    * writer-unique `_cdc/` dir and return its root-relative path — called
    * just before the commit that will reference it, so a losing CAS leaves
    * only an unreferenced dir (same inertness argument as data files). */
  private def writeCdc(changes0: DataFrame, forVersion: Int,
      mapping: Map[String, String] = Map.empty): Option[String] = {
    // GENERATED-column invariant for CHANGE rows (hidden partitioning):
    // change frames assembled from user batches carry the generated
    // partition column null (the batch never had it — writeVersion computes
    // it inside the data funnel, which change rows bypass). Recompute it
    // unconditionally from each row's own source value — pure projection,
    // idempotent, and preimages get THEIR era's value. Skipped when the
    // frame's target schema doesn't carry the column (e.g. a restore diff
    // into a pre-transform era).
    val changes = config.partitionTransform match {
      case Some(t) if changes0.columns.contains(t.name) &&
          changes0.columns.contains(t.source) =>
        changes0.withColumn(t.name, t.expr)
      case _ => changes0
    }
    val seg = f"_cdc/v$forVersion%05d-" + java.util.UUID.randomUUID
      .toString.replace("-", "").substring(0, 8)
    // change files store PHYSICAL column names, same as data files —
    // physical names are rename-stable, so a feed read AFTER a later
    // rename still finds every pre-rename change column (writing logical
    // names would silently null them instead). `_change_type` is reserved
    // (never renameable), it passes through.
    val phys =
      if (mapping.isEmpty) changes
      else changes.select(changes.columns.toSeq.map(c =>
        col(c).as(mapping.getOrElse(c, c))): _*)
    withStatFriendlyTimestamps {
      phys.write.mode("overwrite").parquet(root.resolve(seg).toString)
    }
    // change dirs are flat (never partitionBy'd): prefill the schema memo
    CowTable.prefillSegSchema(root.resolve(seg).toString, phys.schema)
    Some(seg)
  }

  /** BLOOM sidecars for a commit's new files: one pass over the leading key
    * column, aggregated per file executor-side, written as `<file>.bloom`
    * next to each data file (inside the writer-unique version dir, so the
    * CAS story is unchanged — a losing writer's sidecars are as inert as
    * its data files). Key values are encoded in the SAME stat-string space
    * pruning compares in ([[KeyPrune.keyStatColumn]] → string), so lookups
    * are byte-consistent. Sized for the largest new file at 1% FPP; executors
    * write their own sidecars — the driver never holds the filters. */
  private def writeBlooms(
      verDir: Path, fresh: Seq[FileEntry], schema: StructType): Unit = {
    val k = config.primaryKey.head
    if (fresh.isEmpty || !schema.fieldNames.contains(k)) return
    // a path-borne partition key already has EXACT per-file "stats" (one
    // value per file) — and is physically absent from the files
    if (config.partitionKey.contains(k)) return
    val expected = math.max(1000L, fresh.map(_.rows).max)
    // explicit file list: covers hive layouts and compaction's bin-*/
    // subdirs alike (a directory listing would miss or mis-partition both)
    val dataSchema = StructType(schema.fields.filterNot(f =>
      config.partitionKey.contains(f.name)))
    val df = spark.read.schema(dataSchema)
      .parquet(fresh.map(e => root.resolve(e.path).toString): _*)
    val keyed = df.select(
      input_file_name().as("__file"),
      KeyPrune.keyStatColumn(col(k), dataSchema(k).dataType, spark)
        .cast("string").as("__k"))
    keyed.where(col("__k").isNotNull)
      .rdd.map(r => (r.getString(0), r.getString(1)))
      .aggregateByKey(
        null: org.apache.spark.util.sketch.BloomFilter)(
        (bf, s) => {
          val b = if (bf == null)
            org.apache.spark.util.sketch.BloomFilter.create(expected, 0.01)
          else bf
          b.putString(s); b
        },
        (a, b) =>
          if (a == null) b else if (b == null) a
          else { a.mergeInPlace(b); a })
      .foreach { case (fileUri, bf) =>
        if (bf != null) {
          val p = if (fileUri.startsWith("file:"))
            Paths.get(new java.net.URI(fileUri).getPath)
          else Paths.get(fileUri)
          val out = Files.newOutputStream(
            p.resolveSibling(p.getFileName.toString + ".bloom"))
          try bf.writeTo(out) finally out.close()
        }
      }
  }

  /** Latest committed epoch of streaming query `queryId`, walking back from
    * the current version (manifests survive vacuum, so the walk is always
    * complete); stops at the query's FIRST marker found — epochs are
    * monotone per query, so that marker is the high-water mark. None ⇔ the
    * query never committed here. */
  private[graft] def lastStreamEpoch(queryId: String): Option[Long] = {
    var v = currentVersion
    while (v >= 1) {
      val m = manifest(v)
      if (m.streamQueryId.contains(queryId)) return m.streamEpochId
      v -= 1
    }
    None
  }

  /** Publish a commit whose data files already exist (written by
    * [[writeVersion]] or by the DSv2 write path's executors): manifest
    * assembly + the CAS of [[commitManifest]]. `parent` is the version the
    * writer based its work on — a concurrent commit in between fails the
    * CAS. Returns the committed version. */
  private[graft] def commitAt(
      parent: Int, fresh: Seq[FileEntry], carryOver: Seq[FileEntry],
      schema: StructType, dataChange: Boolean = true,
      streamTxn: Option[(String, Long)] = None,
      cdcDir: Option[String] = None,
      mappingOpt: Option[(Map[String, String], Seq[String])] = None,
      statsColumnsOpt: Option[Seq[String]] = None,
      checkConstraintsOpt: Option[Seq[String]] = None): Int = {
    val v = parent + 1
    // Inherit the parent's column mapping when the caller didn't resolve
    // one. A caller that wrote files itself (the DSv2 commit path) writes
    // LOGICAL names for new fields — if such a field's name collides with
    // a historical physical slot, committing would mis-bind old bytes to
    // the new column, so it must fail here, loudly, pre-CAS.
    val (mapping, usedPhys) = mappingOpt.getOrElse {
      if (parent < 1) (Map.empty[String, String], schema.fieldNames.toSeq)
      else {
        val pm = manifest(parent)
        val parentFields =
          structFromJson(pm.schemaJson).fieldNames.toSet
        val fence = pm.effectiveUsedPhysical.toSet
        val clash = schema.fieldNames
          .filterNot(parentFields).filter(n => fence(n) &&
            !pm.columnMapping.contains(n))
        require(clash.isEmpty,
          s"table ${config.tableName}: column(s) ${clash.mkString(", ")} " +
            "reuse a physical name burned by a dropped/renamed predecessor" +
            " — this write path cannot allocate mapped physical names; " +
            "use the CowTable API (upsert/overwrite) for this commit")
        (pm.columnMapping,
          (pm.effectiveUsedPhysical ++
            schema.fieldNames.filterNot(parentFields)).distinct)
      }
    }
    val entries = fresh ++ carryOver
    // FIELD METADATA (initial defaults, comments) survives data commits:
    // API writes carry df-derived schemas whose fields have EMPTY
    // metadata, which would silently strip a declared DEFAULT or COMMENT
    // on the first upsert — re-attach the parent's metadata for
    // same-named fields whose commit-side metadata is empty. A field
    // arriving WITH metadata keeps its own (an ALTER that changed it is
    // authoritative); an explicit dropColumn + addColumn re-add starts
    // clean (the parent no longer carries the field when the re-add
    // commits).
    val schemaD =
      if (parent < 1) schema
      else {
        val pf = structFromJson(manifest(parent).schemaJson)
          .fields.map(f => f.name -> f).toMap
        StructType(schema.fields.map { f =>
          pf.get(f.name) match {
            case Some(p)
              if f.metadata == org.apache.spark.sql.types.Metadata.empty &&
                p.metadata != org.apache.spark.sql.types.Metadata.empty =>
              f.copy(metadata = p.metadata)
            case _ => f
          }
        })
      }
    val m = CommitManifest(
      version = v,
      parent = parent,
      schemaJson = schemaD.json,
      primaryKey = config.primaryKey,
      partitionKey = config.partitionKey,
      keyNumeric = Try(schema(config.primaryKey.head).dataType)
        .map(statKeyNumeric).getOrElse(false),
      rowCount = entries.map(_.liveRows).sum,
      files = entries,
      dataChange = dataChange,
      commitTimeMs = clockMs(),
      key2Numeric = config.primaryKey.lift(1)
        .flatMap(k => Try(schema(k).dataType).toOption)
        .exists(statKeyNumeric),
      // either the streaming sink's (queryId, epochId) or an armed batch
      // [[withTxn]] marker — same manifest fields, same replay semantics
      streamQueryId = streamTxn.orElse(txn).map(_._1),
      streamEpochId = streamTxn.orElse(txn).map(_._2),
      cdcDir = cdcDir,
      // durable union (parent manifest ∪ config), pruned to live columns —
      // a stale instance can neither erase a renamed stats column nor
      // persist one the schema no longer carries. `statsColumnsOpt` is the
      // deliberate-narrowing escape hatch: ALTER TBLPROPERTIES passes the
      // full replacement list so UNSET / a narrowing SET actually lands
      // (the union would silently re-inherit the old list forever).
      statsColumns =
        statsColumnsOpt.getOrElse(
          if (parent < 1) config.statsColumns
          else (manifest(parent).statsColumns ++ config.statsColumns).distinct)
          .filter(schema.fieldNames.contains),
      bloomIndex = config.bloomIndex,
      changeDataFeed = config.changeDataFeed,
      deletionVectors = config.deletionVectors,
      ndvSketch = config.ndvSketch,
      precombineKey = config.precombineKey,
      clusterByKey = config.clusterByKey,
      maxRecordsPerFile = config.maxRecordsPerFile,
      // same durable-union discipline as statsColumns: a stale session's
      // write must not erase a constraint another session added (its
      // enforcement already unions via liveCheckConstraints — the manifest
      // it publishes has to agree, or the NEXT reader loses the constraint).
      // ALTER TBLPROPERTIES passes the replacement list so UNSET works.
      checkConstraints =
        checkConstraintsOpt.getOrElse(
          if (parent < 1) config.checkConstraints
          else (manifest(parent).checkConstraints ++
            config.checkConstraints).distinct),
      columnMapping = mapping,
      usedPhysicalNames = usedPhys,
      partitionSpec = config.partitionSpec,
      // partition-spec evolution history: whenever this commit's spec
      // differs from the parent's, the parent's is RETIRED (its files keep
      // their layout; era-aware pruning replays predicates through it)
      priorSpecs =
        if (parent < 1) Nil
        else {
          val pm = manifest(parent)
          (pm.priorSpecs ++
            pm.partitionSpec.filterNot(config.partitionSpec.contains))
            .distinct
        })
    commitManifest(m)
    txn = None // the marker's one operation committed — see [[withTxn]]
    v
  }

  /** The one commit point: atomically PUBLISH a version's manifest, failing
    * if a concurrent writer published the same version first (optimistic
    * concurrency, Delta-protocol-style). POSIX rename REPLACES silently, so
    * the fail-if-exists primitive is `Files.createLink` (hard link, EEXIST
    * is atomic): the fully-written temp manifest is linked to its canonical
    * name — it appears complete or not at all, never partially. The loser
    * throws [[ConcurrentWriteException]] having changed nothing visible (its
    * data files are unreferenced garbage). The `_current` pointer refresh
    * after the link is only a fast-start hint ([[currentVersion]] probes past
    * it), so a crash between link and pointer loses nothing.
    *
    * Single-writer deployments (the reference's `max_concurrent_runs=1`,
    * cdk_stacks/glue_stack.py:156-158) never hit the conflict path; this
    * guards the multi-writer case the reference fences off by scheduling. */
  private def commitManifest(m0: CommitManifest): Unit = {
    Files.createDirectories(manifestDir)
    // header summaries of the FULL list (m0.files is always the complete
    // fold here — delta encoding happens below): one O(files) pass, the
    // price that lets a cold pruned scan skip materializing the list
    val m = m0.copy(
      allPathed = Some(m0.partitionKey.isDefined && m0.files.nonEmpty &&
        m0.files.forall(e =>
          CowTable.pathPartValue(m0.partitionKey, e).isDefined)),
      stattedPhys = Some(
        m0.files.iterator.flatMap(_.extra.keysIterator).distinct.toSeq.sorted))
    val vfile = manifestDir.resolve(f"v${m.version}%05d.json")
    // DELTA-ENCODE against version-1 unless this version is a CHECKPOINT
    // (v1 or every ManifestCheckpointEvery-th commit): adds = entries
    // absent-or-changed vs the parent, removed = parent paths absent-or-
    // changed here. Folding is exact because FileEntry is a value
    // (structural equality); a delta no smaller than the full list is a
    // checkpoint instead (nothing to save). Keeps commit metadata
    // O(changed files) — the Delta log + checkpoint discipline.
    val delta =
      if (m.version == 1 ||
        m.version % CowTable.ManifestCheckpointEvery == 0) None
      else {
        val prev = manifest(m.version - 1)
        val prevByPath = prev.files.map(e => e.path -> e).toMap
        val curByPath = m.files.map(e => e.path -> e).toMap
        val adds = m.files.filter(e => !prevByPath.get(e.path).contains(e))
        val removed = prev.files.map(_.path)
          .filter(p => !curByPath.get(p).contains(prevByPath(p)))
        if (adds.size + removed.size >= m.files.size) None
        else Some(m.copy(files = adds, deltaRemoved = Some(removed)))
      }
    // PARQUET CHECKPOINT: the full file list as one parquet row per
    // FileEntry (ManifestCheckpoint) — the uuid name keeps racing writers'
    // sidecars distinct, and it is fully written BEFORE the CAS link below
    // publishes the version that references it (appears complete or not
    // at all). The CAS loser's sidecar is deleted on the spot.
    val jsonBody = delta.getOrElse {
      val rel = f"v${m.version}%05d-" +
        java.util.UUID.randomUUID + ManifestCheckpoint.Suffix
      val crc = ManifestCheckpoint.write(manifestDir.resolve(rel), m.files,
        partitionKey = m.partitionKey, keyNumeric = m.keyNumeric)
      m.copy(files = Nil, filesParquet = Some(rel),
        filesParquetCrc32c = Some(crc))
    }
    val tmp = Files.createTempFile(manifestDir, f"_tmp_v${m.version}%05d", ".json")
    Files.writeString(tmp, Serialization.write(jsonBody))
    try Files.createLink(vfile, tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        jsonBody.filesParquet.foreach(rel =>
          Files.deleteIfExists(manifestDir.resolve(rel)))
        throw new ConcurrentWriteException(
          s"version ${m.version} of table ${config.tableName} was committed " +
            "by a concurrent writer; re-read the table and retry")
    } finally Files.deleteIfExists(tmp)
    val ptmp = manifestDir.resolve(s"_current.tmp${m.version}")
    Files.writeString(ptmp, m.version.toString)
    Files.move(ptmp, pointerFile,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** (name, numeric-compare, dtype) of the stat-tracked key columns — the
    * first TWO primary-key columns (composite-key pruning; further columns
    * add little skip power for their metadata cost). */
  private def statCols(schema: StructType)
      : Seq[(String, Boolean, Option[DataType])] =
    config.primaryKey.take(2).map { k =>
      val dt = schema.find(_.name == k).map(_.dataType)
      (k, dt.exists(statKeyNumeric), dt)
    }

  /** The statsColumns in force for the NEXT write: the current manifest's
    * durable list (authoritative post-create — RENAME COLUMN rewrites it,
    * ALTER TBLPROPERTIES mutates it) unioned with this instance's config
    * (so a config-declared list still takes effect on a table created
    * before it). Reading the manifest here is what keeps a long-lived
    * instance collecting stats for a column it knew as `amt` after another
    * path renamed it to `total`. */
  private def liveStatsColumns: Seq[String] = {
    val v = currentVersion
    if (v == 0) config.statsColumns
    else (manifest(v).statsColumns ++ config.statsColumns).distinct
  }

  /** Live statsColumns present in the schema (keys excluded —
    * they are always statted), in the same (name, numeric, dtype) shape
    * [[footerStat]] consumes. Names are PHYSICAL (what footers store and
    * what [[FileEntry.extra]] is keyed by — physical keys survive renames,
    * so pre-rename files keep skipping; the scan side translates). */
  private def extraStatCols(schema: StructType,
      mapping: Map[String, String])
      : Seq[(String, Boolean, Option[DataType])] =
    liveStatsColumns
      .filterNot(config.primaryKey.take(2).contains)
      .flatMap(k => schema.find(_.name == k))
      .map(f => (mapping.getOrElse(f.name, f.name),
        statKeyNumeric(f.dataType), Some(f.dataType)))

  /** Per-file row count + first-key min/max for the freshly written files,
    * read from the parquet FOOTERS — zero data scanned, O(files) metadata
    * work, which is what keeps commits cheap at 100 TB (the previous
    * implementation re-scanned the key column of every new file). Falls back
    * to a columnar key-column scan if footers can't provide the stats
    * (unsupported physical type, missing column, stats absent). Missing
    * stats degrade safely: a file without min/max is always treated as
    * touched by pruning. */
  private[graft] def statFiles(verDir: Path, schema: StructType,
      mapping: Map[String, String] = Map.empty): Seq[FileEntry] = {
    import scala.jdk.CollectionConverters._
    if (!Files.isDirectory(verDir)) return Nil
    val parquetFiles = scala.util.Using.resource(Files.walk(verDir)) {
      _.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.toString)
    }
    if (parquetFiles.isEmpty) return Nil
    val keyDt = schema.find(_.name == config.primaryKey.head).map(_.dataType)
    // DECIMAL keys are stored UNSCALED in parquet footers (123.45 -> 12345)
    // while pruning compares scaled values — the footer path would silently
    // misprune, so decimal FIRST keys always take the columnar scan (a
    // decimal SECOND column just gets no col-2 footer stats).
    if (keyDt.exists(_.isInstanceOf[org.apache.spark.sql.types.DecimalType]))
      return scanStats(verDir)
    val cols = statCols(schema)
    val extras = extraStatCols(schema, mapping)
    // footer reads are independent driver-side IO — do them in parallel
    // (a commit touching hundreds of files would otherwise serialize
    // hundreds of file opens)
    import scala.collection.parallel.CollectionConverters._
    val es0 = Try(parquetFiles.par.map(footerStat(_, cols, extras)).seq.toSeq)
      .toOption match {
      // INT96-era timestamp keys (and other types parquet keeps no stats
      // for) come back stat-less from every footer — fall back to the
      // columnar key scan rather than committing a manifest that can never
      // prune. Legitimately empty writes keep their (stat-less) entries.
      case Some(es)
        if es.exists(_.minKey.isDefined) || es.forall(_.rows == 0) => es
      case _ => scanStats(verDir)
    }
    withNdvSketches(es0, schema, mapping)
  }

  /** Per-file NDV sketch enrichment ([[TableConfig.ndvSketch]]): ONE
    * column-pruned pass over the fresh files, k-min hash states per
    * stats column — the opt-in write cost that buys plan-time
    * `distinctCount` on non-key columns. Declines silently on any
    * failure (sketches are advisory; a write must never fail for them). */
  private def ndvEnabled: Boolean = config.ndvSketch ||
    (currentVersion > 0 && manifest(currentVersion).ndvSketch)

  private def withNdvSketches(entries: Seq[FileEntry], schema: StructType,
      mapping: Map[String, String]): Seq[FileEntry] = {
    if (entries.isEmpty || !Try(ndvEnabled).getOrElse(false)) return entries
    val cols = liveStatsColumns.flatMap(k => schema.find(_.name == k))
      .map(f => mapping.getOrElse(f.name, f.name))
    val nonEmpty = entries.filter(_.rows > 0)
    if (cols.isEmpty || nonEmpty.isEmpty) return entries
    Try {
      val byPath = ndvSketchesFor(nonEmpty, cols)
      entries.map(e => byPath.get(e.path).fold(e)(m => e.copy(ndv = m)))
    }.getOrElse(entries)
  }

  /** The sketch pass itself: one column-pruned read of `files`, per-file
    * k-min hash states per physical column. Sketches are over the files'
    * RAW rows (deletion vectors not subtracted — an advisory NDV upper
    * bound; purge/compaction refreshes them exactly). */
  private def ndvSketchesFor(files: Seq[FileEntry], cols: Seq[String])
      : Map[String, Map[String, Seq[Long]]] = {
    val rootAbs = root.toString
    val df0 = spark.read.parquet(
      files.map(e => root.resolve(e.path).toString): _*)
    val present = cols.filter(df0.columns.contains) // path-borne cols skip
    if (present.isEmpty) return Map.empty
    val rel = expr(s"substring(regexp_replace(_metadata.file_path, " +
      s"'^file:', ''), ${rootAbs.length + 2})")
    val aggs = present.map(p => graft.functions.KmvSketch.kmvState(
      graft.text.TextFunctions.md5Hash48(col(p).cast("string")),
      CowTable.NdvK).as(p))
    df0.select(rel.as("__rel") +: present.map(col): _*)
      .groupBy("__rel").agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        r.getString(0) -> present.zipWithIndex.map { case (p, i) =>
          p -> r.getSeq[Long](i + 1).toSeq
        }.toMap
      }.toMap
  }

  /** BACKFILL NDV sketches on an EXISTING table (adopt
    * [[TableConfig.ndvSketch]] without rewriting a byte): one
    * column-pruned pass over JUST the files lacking a sketch, folded into
    * a metadata-only commit. Loud-free no-op when nothing is missing.
    * Subsequent writes maintain the sketches (the commit durably flips the
    * manifest's ndvSketch flag via this handle's config). Returns the new
    * current version. */
  def computeNdvSketches(): Int = {
    val parent = currentVersion
    require(parent > 0, s"table ${config.tableName} does not exist")
    val m = manifest(parent)
    val schema = structFromJson(m.schemaJson)
    // PATH-BORNE columns (the identity hive partition key and any current/
    // retired generated partition column) carry no file bytes — the sketch
    // pass can never produce them, so including them in the lacking test
    // would make every CALL re-read all files and commit a fresh metadata
    // version despite nothing changing (no fixpoint). Their NDV is exactly
    // derivable from the manifest's distinct path values anyway.
    val pathBorne: Set[String] =
      (m.partitionKey.toSeq ++
        (m.partitionSpec.toSeq ++ m.priorSpecs)
          .map(s => PartitionTransform.parse(s).name))
        .map(m.physicalName).toSet
    val cols = m.statsColumns
      .flatMap(c => schema.find(_.name == c))
      .map(f => m.physicalName(f.name))
      .filterNot(pathBorne)
    if (cols.isEmpty) return parent
    val lacking = m.files.filter(e =>
      e.rows > 0 && !cols.forall(e.ndv.contains))
    if (lacking.isEmpty && m.ndvSketch == config.ndvSketch) return parent
    val byPath =
      if (lacking.isEmpty) Map.empty[String, Map[String, Seq[Long]]]
      else ndvSketchesFor(lacking, cols)
    val updated = m.files.map(e =>
      byPath.get(e.path).fold(e)(mm => e.copy(ndv = e.ndv ++ mm)))
    commitAt(parent, Nil, updated, schema, dataChange = false)
  }

  /** Footer stats for an EXPLICIT file list (the DSv2 write commit path:
    * executors report the files they wrote; nothing else in the writer-unique
    * dir may be trusted — a zombie task attempt could still be writing).
    * Degrades safely, never drops data: any stat failure — and decimal keys,
    * whose footer stats are unscaled and would misprune — falls back to the
    * message-carried row counts and the on-disk size with no min/max
    * (stat-less ⇒ always treated as touched by pruning). */
  private[graft] def statListedFiles(
      files: Seq[(String, Long)], schema: StructType,
      mapping: Map[String, String] = Map.empty): Seq[FileEntry] = {
    if (files.isEmpty) return Nil
    val keyDt = schema.find(_.name == config.primaryKey.head).map(_.dataType)
    def fallback = files.map { case (p, n) =>
      FileEntry(p, n, None, None, bytes = Files.size(root.resolve(p)))
    }
    if (keyDt.exists(_.isInstanceOf[org.apache.spark.sql.types.DecimalType]))
      fallback
    else {
      val cols = statCols(schema)
      val extras = extraStatCols(schema, mapping)
      import scala.collection.parallel.CollectionConverters._
      withNdvSketches(
        Try(files.par.map { case (p, _) =>
          footerStat(root.resolve(p), cols, extras)
        }.seq.toSeq).getOrElse(fallback), schema, mapping)
    }
  }

  private def footerStat(
      file: Path,
      cols: Seq[(String, Boolean, Option[DataType])],
      extras: Seq[(String, Boolean, Option[DataType])] = Nil): FileEntry = {
    import scala.jdk.CollectionConverters._
    // local parquet I/O, as ManifestCheckpoint reads: no Hadoop
    // Configuration to build and no file system lookup per footer
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(file),
      org.apache.parquet.ParquetReadOptions.builder(
        new org.apache.parquet.conf.PlainParquetConfiguration()).build())
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum

      /** One column's (min, max) in stat-string space; (None, None) when any
        * row group lacks usable stats for it. */
      def colStat(key: String, numericKey: Boolean, keyDt: Option[DataType])
          : (Option[String], Option[String]) = {
        // footer decimal stats are UNSCALED — never usable here
        if (keyDt.exists(_.isInstanceOf[org.apache.spark.sql.types.DecimalType]))
          return (None, None)
        // Timestamp stats can be MILLIS or MICROS depending on the writer —
        // read the column's logical-type annotation instead of assuming
        // (a millis stat compared in micros space mispruned by 1000x).
        // Unknown/NANOS/INT96 annotations => no usable stats for this file.
        // Applies to NTZ the same way: its footer stat is the raw wall-clock
        // INT64 in the annotated unit, normalized here to micros.
        val tsScale: Option[Long] =
          if (!keyDt.exists(dt =>
            dt == org.apache.spark.sql.types.TimestampType ||
              dt == org.apache.spark.sql.types.TimestampNTZType)) Some(1L)
          else Try {
            import org.apache.parquet.schema.LogicalTypeAnnotation
            reader.getFooter.getFileMetaData.getSchema.getType(Seq(key): _*)
              .asPrimitiveType().getLogicalTypeAnnotation match {
              case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                ts.getUnit match {
                  case LogicalTypeAnnotation.TimeUnit.MICROS => Some(1L)
                  case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(1000L)
                  case _ => None
                }
              case _ => None
            }
          }.toOption.flatten
        val chunks = blocks.flatMap(
          _.getColumns.asScala.find(_.getPath.toDotString == key))
        val stats = chunks.map(_.getStatistics)
        val usable = tsScale.isDefined &&
          chunks.size == blocks.size && blocks.nonEmpty &&
          stats.forall(s => s != null && s.hasNonNullValue && !s.isEmpty)
        if (!usable) (None, None)
        else {
          val mins = stats.map(s => statString(s.genericGetMin))
          val maxs = stats.map(s => statString(s.genericGetMax))
          if (mins.contains(None) || maxs.contains(None)) (None, None)
          else if (numericKey) {
            val scale = BigDecimal(tsScale.get)
            (Some((mins.flatten.map(BigDecimal(_)).min * scale).toString),
              Some((maxs.flatten.map(BigDecimal(_)).max * scale).toString))
          } else // UTF-8 byte order across row groups (pruning's order)
            (Some(mins.flatten.min(CowTable.utf8Ordering)),
              Some(maxs.flatten.max(CowTable.utf8Ordering)))
        }
      }

      val (mn, mx) = cols.headOption
        .map { case (k, n, dt) => colStat(k, n, dt) }.getOrElse((None, None))
      val (mn2, mx2) = cols.lift(1)
        .map { case (k, n, dt) => colStat(k, n, dt) }.getOrElse((None, None))
      // extra data-skipping columns: stat-less ones stay absent from the
      // map (absent ⇒ never skipped on that column)
      val extraMap = extras.flatMap { case (k, n, dt) =>
        val (emn, emx) = colStat(k, n, dt)
        if (emn.isEmpty || emx.isEmpty) None else Some(k -> ColRange(emn, emx))
      }.toMap
      // NULL counts per examined column — set in every row group or not at
      // all (a partial sum would under-count and misprune IS NULL). An
      // all-null column legitimately has a null count and no min/max.
      def colNulls(key: String): Option[Long] = {
        val chunks = blocks.flatMap(
          _.getColumns.asScala.find(_.getPath.toDotString == key))
        if (blocks.isEmpty || chunks.size != blocks.size) None
        else {
          val stats = chunks.map(_.getStatistics)
          if (stats.exists(s => s == null || !s.isNumNullsSet)) None
          else Some(stats.map(_.getNumNulls).sum)
        }
      }
      val nullsMap = (cols.map(_._1) ++ extras.map(_._1)).distinct
        .flatMap(k => colNulls(k).map(k -> _)).toMap
      FileEntry(relativize(file.toString), rows, mn, mx, mn2, mx2,
        bytes = Files.size(file), extra = extraMap,
        nulls = nullsMap)
    } finally reader.close()
  }

  /** Footer statistic value → the same string form `CAST(key AS STRING)`
    * produces (what pruning compares against). None ⇒ unsupported type. */
  private def statString(v: Any): Option[String] = v match {
    case l: java.lang.Long => Some(l.toString)
    case i: java.lang.Integer => Some(i.toString)
    case b: org.apache.parquet.io.api.Binary => Some(b.toStringUsingUTF8)
    // FINITE floating-point stats are exact and BigDecimal-parseable (the
    // numeric compare space pruning uses; String.valueOf round-trips the
    // double). Non-finite ⇒ no stats: a NaN/Infinity extremum has no
    // BigDecimal form, and parquet-mr omits FP stats for NaN-bearing
    // row groups anyway (PARQUET-1246) — `hasNonNullValue` already gates
    // those out before this point.
    case d: java.lang.Double if !d.isNaN && !d.isInfinite =>
      Some(d.toString)
    case f: java.lang.Float if !f.isNaN && !f.isInfinite =>
      Some(f.toString)
    case _ => None // decimal keys: unscaled footers — fall back to no stats
  }

  /** Fallback: one columnar pass over just the key column(s). */
  private def scanStats(verDir: Path): Seq[FileEntry] = {
    Try {
      val df = spark.read.option("basePath", verDir.toString)
        .parquet(verDir.toString)
      // same value space as footer stats (temporal keys → physical ints)
      def minMax(k: String): Seq[org.apache.spark.sql.Column] =
        if (df.columns.contains(k)) {
          val ks = KeyPrune.keyStatColumn(col(k), df.schema(k).dataType, spark)
          Seq(min(ks).cast("string"), max(ks).cast("string"))
        } else Seq(lit(null).cast("string"), lit(null).cast("string"))
      val ks = config.primaryKey.take(2)
      val aggs = Seq(count(lit(1))) ++ minMax(ks.head) ++
        (if (ks.size > 1) minMax(ks(1))
         else Seq(lit(null).cast("string"), lit(null).cast("string")))
      df.groupBy(input_file_name().as("__file"))
        .agg(aggs.head, aggs.tail: _*)
        .collect().toSeq
        .map { r =>
          val rel = relativize(r.getString(0))
          FileEntry(rel, r.getLong(1),
            Option(r.getString(2)), Option(r.getString(3)),
            Option(r.getString(4)), Option(r.getString(5)),
            bytes = Files.size(root.resolve(rel)))
        }.sortBy(_.path)
    }.getOrElse(Nil) // empty write ⇒ no readable files ⇒ no entries
  }

  private def relativize(fileUri: String): String = {
    val abs =
      if (fileUri.startsWith("file:"))
        Paths.get(new java.net.URI(fileUri).getPath)
      else Paths.get(fileUri)
    root.relativize(abs.toAbsolutePath).toString
  }
}

object CowTable {
  implicit private[storage] val formats: Formats =
    Serialization.formats(NoTypeHints)

  /** Data-file schema per absolute inference-base path (see
    * [[CowTable.readSegGroup]]): the columns the parquet files store, never
    * the hive path columns, which take their declared types at read time.
    * Version segments are written exactly once under writer-unique UUID
    * names, so an entry can never go stale; JVM-global is safe for the same
    * reason (metadata of immutable files). */
  private val segSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Put a segment's data-file schema into [[segSchemaCache]]: from the
    * writer's frame (writeVersion, change dirs), or from the first footer
    * inference of a segment another writer produced. Parquet read-back
    * relaxes nullability, so the fields are stored as nullable. */
  private[storage] def prefillSegSchema(
      baseAbs: String, written: StructType): Unit = {
    if (segSchemaCache.size > 8192) segSchemaCache.clear()
    segSchemaCache.put(baseAbs,
      StructType(written.fields.map(_.copy(nullable = true))))
  }

  /** Deletion-vector sidecars always carry exactly (path STRING, pos LONG)
    * — a fixed schema read needs no footer-inference job. */
  private[storage] val dvSchema = StructType(Seq(
    StructField("path", StringType), StructField("pos", LongType)))

  /** Names the change feed stamps onto rows — user columns may not take
    * them over via RENAME (a feed read could no longer tell them apart). */
  private[graft] val reservedColumns: Set[String] =
    Set("_change_type", "_commit_version", "_commit_timestamp")

  private[graft] def structFromJson(json: String): StructType =
    DataType.fromJson(json).asInstanceOf[StructType]

  /** Resolve the column mapping for a commit writing `schema`: inherit the
    * parent's mapping, then allocate a physical name for every NEW logical
    * field — the field's own name when no historical physical slot burned
    * it, else a fresh `name_N` (deterministic given the fence). Returns
    * (mapping, full physical-name fence to store). */
  private[graft] def evolveMapping(
      parent: Option[CommitManifest], schema: StructType)
      : (Map[String, String], Seq[String]) = parent match {
    case None => (Map.empty, schema.fieldNames.toSeq)
    case Some(pm) =>
      val parentFields = structFromJson(pm.schemaJson).fieldNames.toSet
      var mapping = pm.columnMapping
      val used = scala.collection.mutable.LinkedHashSet(
        pm.effectiveUsedPhysical: _*)
      schema.fieldNames.filterNot(parentFields).foreach { n =>
        if (!used(n)) used += n // physical = logical, no mapping entry
        else {
          var i = 2
          while (used(s"${n}_$i")) i += 1
          mapping += n -> s"${n}_$i"
          used += s"${n}_$i"
        }
      }
      (mapping, used.toSeq)
  }

  /** Legal tag names (filesystem-safe, no path or escape ambiguity). */
  private[graft] val TagName = "[A-Za-z0-9][A-Za-z0-9._-]{0,127}"

  /** Static tag listing (pure file IO — connector planning reads it). */
  private[graft] def tagsAt(root: Path): Map[String, Int] = {
    val dir = root.resolve("_manifests").resolve("_tags")
    if (!Files.isDirectory(dir)) return Map.empty
    val it = Files.list(dir)
    try it.iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".tag"))
      .map(p => p.getFileName.toString.stripSuffix(".tag") ->
        Files.readString(p).trim.toInt)
      .toMap
    finally it.close()
  }

  /** Static manifest access (no SparkSession needed — pure file IO): the
    * entry point the DSv2 connector's driver-side planning uses. */
  private[graft] def currentVersionAt(root: Path): Int = {
    val manifestDir = root.resolve("_manifests")
    val pointer = manifestDir.resolve("_current")
    var v =
      if (Files.exists(pointer)) Files.readString(pointer).trim.toInt else 0
    while (Files.exists(manifestDir.resolve(f"v${v + 1}%05d.json"))) v += 1
    v
  }

  /** Vacuum low-water mark without a table instance (DSv2 planning shares
    * the readVersion guard: versions below it have deleted data files). */
  private[graft] def earliestReadableAt(root: Path): Int = {
    val p = root.resolve("_manifests").resolve("_vacuumed")
    if (Files.exists(p)) Files.readString(p).trim.toInt else 1
  }

  /** Behavioral config for a table opened from its ROOT alone (the DSv2
    * connector, streaming sink): the current manifest's stored properties
    * when the table exists — so declared behavior (bloomIndex,
    * statsColumns, changeDataFeed, ...) survives writers that never saw
    * the original TableConfig — else `fallback` (first-write creates). */
  private[graft] def configAt(root: Path, fallback: TableConfig)
      : TableConfig = {
    val v = currentVersionAt(root)
    if (v == 0) fallback
    else manifestAt(root, v).tableConfig(fallback.tableName)
  }

  /** How often a FULL (checkpoint) manifest is written instead of a delta
    * — bounds the [[manifestAt]] fold chain (≤ 7 extra metadata reads). */
  private[graft] val ManifestCheckpointEvery: Int = 8

  /** How often [[commitWithRebase]] rebases onto concurrent winners before
    * a lost CAS race fails loudly. */
  private val CommitRebaseAttempts = 5

  /** Driver-side cache of FOLDED manifests. Manifest files are append-only
    * (rollback/restore commit NEW versions; they never rewrite an existing
    * file), so a parsed manifest is immutable — but a table dir may be
    * deleted and recreated at the same path with the same version numbers
    * (tests, `CowTable.replace`), so the key carries the file's identity
    * (mtime-ns, size) alongside (path, version). Bounded LRU: a 100k-file
    * table's checkpoint manifest parse is the dominant per-statement driver
    * cost without this (every scan/write/commit re-read it). */
  private val ManifestCacheMax = 64
  private val manifestCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long), CommitManifest](
      ManifestCacheMax, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), CommitManifest])
          : Boolean = size() > ManifestCacheMax
    })

  /** Probe/test support: drop the driver-side folded-manifest cache so
    * the next [[manifestAt]] measures a genuinely COLD load — the
    * per-session planning cost a fresh driver pays (what the parquet
    * checkpoint encoding exists to bound). */
  private[graft] def evictManifestCache(): Unit = manifestCache.clear()

  /** The hive null-partition directory value (post-unescape) — also the
    * scan-side constant ([[graft.sources]] delegates here). */
  private[graft] val NullPartitionName: String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .DEFAULT_PARTITION_NAME

  /** Hive partition value sitting in a file's path, if any — the ONE
    * derivation shared by the scan prune, the checkpoint index columns,
    * and the commit-time header summaries (unescape is the exact inverse
    * of the escaping both writers use). */
  private[graft] def pathPartValue(
      partitionKey: Option[String], e: FileEntry): Option[String] =
    partitionKey.flatMap { pk =>
      e.path.split('/').dropRight(1).find(_.startsWith(pk + "="))
        .map(seg => org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.unescapePathName(seg.substring(pk.length + 1)))
    }

  /** Folded-manifest cache key of version `version`'s JSON: (path,
    * mtime-ns, size) — see [[manifestCache]]. */
  private def manifestKey(root: Path, version: Int)
      : (Path, (String, Long, Long)) = {
    val p = root.resolve("_manifests").resolve(f"v$version%05d.json")
    val attrs = Files.readAttributes(p,
      classOf[java.nio.file.attribute.BasicFileAttributes])
    (p, (p.toAbsolutePath.toString,
      attrs.lastModifiedTime().to(java.util.concurrent.TimeUnit.NANOSECONDS),
      attrs.size()))
  }

  /** HEADER-ONLY manifest read: version `v`'s own JSON, parsed WITHOUT
    * resolving a parquet-checkpoint sidecar and WITHOUT folding the delta
    * chain — every header field (schema, keys, partition spec, durable
    * properties, commit time, summaries) is exact; [[CommitManifest.files]]
    * is forced EMPTY so a misuse shows up as "no files", never as a
    * partial list. O(one small JSON) regardless of table size — what
    * table resolution and timestamp-window scans pay per statement, with
    * the full fold deferred to [[ManifestFiles]]. Served from the full
    * cache when the fold is already paid. */
  private[graft] def manifestHeaderAt(root: Path, version: Int)
      : CommitManifest = {
    val (p, key) = manifestKey(root, version)
    val hit = manifestCache.get(key)
    if (hit != null) hit.copy(files = Nil)
    else Serialization.read[CommitManifest](Files.readString(p)).copy(
      files = Nil, deltaRemoved = None, filesParquet = None,
      filesParquetCrc32c = None)
  }

  /** PREDICATE-PRUNED file-list fold (the Iceberg manifest-list read
    * path): like [[manifestAt]]'s fold but checkpoint levels resolve via
    * [[ManifestCheckpoint.readPruned]] — only row groups whose footer
    * stats could hold a matching entry decode. Delta adds ride whole
    * (O(changed files)); removals apply by path as usual (removing from
    * a superset is exact). Returns the full fold minus entries the
    * per-entry prune provably drops — composing with the driver-side
    * prune yields byte-identical scan results. Never cached (the result
    * is predicate-specific); a warm full fold short-circuits. */
  private[graft] def manifestFilesPruned(
      root: Path, version: Int, pred: CkptPred): Seq[FileEntry] =
    fold(root, version, pred).files

  private[graft] def manifestAt(root: Path, version: Int): CommitManifest =
    fold(root, version, CkptPred())

  /** Version `version`'s manifest with its file list resolved: a
    * checkpoint reads its parquet sidecar (row groups selected by `pred`;
    * an empty `pred` reads all), a delta folds onto version-1 (chain
    * checkpoint-bounded). Only full folds (empty `pred`) enter the cache;
    * any cached fold serves every `pred`. */
  private def fold(root: Path, version: Int, pred: CkptPred)
      : CommitManifest = {
    val (p, key) = manifestKey(root, version)
    val hit = manifestCache.get(key)
    if (hit != null) return hit
    val mj = Serialization.read[CommitManifest](Files.readString(p))
    val files = (mj.filesParquet, mj.deltaRemoved) match {
      case (Some(rel), _) =>
        ManifestCheckpoint.readPruned(root.resolve("_manifests").resolve(rel),
          mj.filesParquetCrc32c.getOrElse(throw new java.io.IOException(
            s"graft: manifest $p has no checkpoint CRC32C")), pred)
      case (None, Some(removed)) =>
        val rm = removed.toSet
        fold(root, version - 1, pred).files.filterNot(e => rm(e.path)) ++
          mj.files
      case (None, None) => throw new java.io.IOException(
        s"graft: manifest $p is neither a checkpoint nor a delta")
    }
    val m = mj.copy(files = files, deltaRemoved = None, filesParquet = None,
      filesParquetCrc32c = None)
    if (pred.isEmpty) manifestCache.put(key, m)
    m
  }

  /** Delta CDF timestamp-option resolution (`startingTimestamp`): the
    * EARLIEST version committed at or after `tsMs` — loud when the
    * timestamp is past the last commit (Delta's convention: such a feed
    * would silently be empty forever). Commit times are monotone under the
    * single-writer discipline; O(versions) metadata reads, cache-served. */
  private[graft] def versionAtOrAfter(root: Path, tsMs: Long): Int = {
    val cur = currentVersionAt(root)
    require(cur > 0, s"graft: no table at $root")
    (1 to cur).find(v => manifestHeaderAt(root, v).commitTimeMs >= tsMs)
      .getOrElse(throw new IllegalArgumentException(
        s"graft: startingTimestamp $tsMs is after the last commit " +
          s"(${manifestHeaderAt(root, cur).commitTimeMs}) of $root"))
  }

  /** The one timestamp→version resolver (`TIMESTAMP AS OF`,
    * `timestampAsOf`, `endingTimestamp`, age-based vacuum): the LATEST
    * version committed at or before `tsMs`, None when `tsMs` precedes the
    * first commit. Header-only reads walking back from the current version
    * (commit times are monotone under the single-writer discipline), so a
    * recent timestamp costs a few small JSON reads at any table size. */
  private[graft] def versionAtOrBefore(root: Path, tsMs: Long): Option[Int] =
    Iterator.iterate(currentVersionAt(root))(_ - 1).takeWhile(_ >= 1)
      .find(v => manifestHeaderAt(root, v).commitTimeMs <= tsMs)

  /** [[versionAtOrBefore]], loud when the timestamp precedes the first
    * commit. */
  private[graft] def versionAsOfAt(root: Path, tsMs: Long): Int = {
    require(currentVersionAt(root) > 0, s"graft: no table at $root")
    versionAtOrBefore(root, tsMs).getOrElse(throw new IllegalArgumentException(
      s"graft: timestamp $tsMs precedes the first commit " +
        s"(${manifestHeaderAt(root, 1).commitTimeMs}) of $root"))
  }

  /** A filter/merge bound in the manifest stats' value space: temporal
    * values become their physical integers (micros / days since epoch). */
  private[graft] def statValueString(v: Any): String = v match {
    case t: java.sql.Timestamp =>
      // getTime is already floor-milliseconds (negative-safe); only the
      // sub-millisecond remainder of nanos is added — a seconds-based
      // truncating division would shift pre-1970 fractional bounds
      (t.getTime * 1000L + (t.getNanos / 1000L) % 1000L).toString
    case d0: java.sql.Date => d0.toLocalDate.toEpochDay.toString
    case d0: java.time.LocalDate => d0.toEpochDay.toString
    case i: java.time.Instant =>
      (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
    case ldt: java.time.LocalDateTime =>
      // an NTZ literal pushed through DSv2 arrives as LocalDateTime; its
      // stat space is wall-clock micros "as if UTC" (the raw footer INT64,
      // same space KeyPrune.keyStatColumn maps the column to).
      // toEpochSecond floors and getNano is the non-negative within-second
      // part, so pre-1970 values stay exact.
      (ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        ldt.getNano / 1000L).toString
    case other => String.valueOf(other)
  }

  /** Does a file's [min, max] on some column possibly intersect the filter
    * bound [lo, hi] (either side open)? Strict bounds are treated as
    * inclusive — conservative; the residual predicate restores exactness.
    * Filter values map through [[statValueString]] into the same stat space
    * the footer stats are in; a value or stat with no stat-space position
    * (NaN, ±Infinity) keeps the file. */
  private[graft] def rangeOverlaps(
      r: ColRange, lo: Option[Any], hi: Option[Any],
      numeric: Boolean): Boolean =
    (r.mn, r.mx) match {
      case (Some(mn), Some(mx)) =>
        val checks =
          lo.map(l => KeyPrune.compare(mx, statValueString(l), numeric)
            .map(_ >= 0)) ++
          hi.map(h => KeyPrune.compare(mn, statValueString(h), numeric)
            .map(_ <= 0))
        checks.exists(_.isEmpty) || checks.forall(_.contains(true))
      case _ => true
    }

  /** Files whose key-column-`colIdx` [min, max] contains at least one of
    * `values` (Catalyst-space values: UTF8String/Long-micros/Int-days
    * literals map to the stat space via [[statValueString]]) — the point-set
    * twin of [[filesInRange]], used by runtime (DPP-style) group filtering.
    * Columns prune independently (conjunctive), so a multi-column-key MERGE
    * intersects the per-column survivors. */
  private[graft] def filesContainingAny(
      m: CommitManifest, values: Seq[Any], colIdx: Int = 0): Seq[FileEntry] =
    KeyPrune.containing(m.files, values.map(v => Some(statValueString(v))),
      if (colIdx == 0) m.keyNumeric else m.key2Numeric, colIdx)._1

  /** Manifest-level data skipping: the subset of `m.files` whose
    * [minKey, maxKey] can intersect `[lower, upper]` (either bound
    * optional; files without stats always kept). Exactness contract: callers
    * re-apply the precise predicate on the rows that remain. */
  private[graft] def filesInRange(
      m: CommitManifest, lower: Option[Any], upper: Option[Any])
      : Seq[FileEntry] =
    m.files.filter(e =>
      rangeOverlaps(ColRange(e.minKey, e.maxKey), lower, upper, m.keyNumeric))

  /** KMV sketch size for [[TableConfig.ndvSketch]] — 64 minima give a
    * ~1/sqrt(k-1) ≈ 13% relative NDV error, plenty for join reordering,
    * at ~0.5 kB of manifest JSON per column per file. */
  val NdvK = 64

  /** Per-commit branches a change-feed union carries before it is cut
    * into checkpointed chunks ([[CowTable.unionBounded]]). */
  private[graft] val FeedChunkCommits = 32

  /** Open a table directory (existing or about-to-be-created). */
  def apply(spark: SparkSession, root: String, config: TableConfig): CowTable =
    new CowTable(spark, root, config)

  /** Idempotent create: skip when the table already exists — the reference's
    * catalog-probe-then-create (src/hudi/hudi-initial-load.py:114,54). */
  def createIfNotExists(
      spark: SparkSession, root: String, config: TableConfig,
      df: => DataFrame): CowTable = {
    val t = apply(spark, root, config)
    if (t.currentVersion == 0) t.create(df)
    t
  }

  /** Destroy-and-recreate, for deterministic test/query fixtures. */
  def replace(
      spark: SparkSession, root: String, config: TableConfig,
      df: DataFrame): CowTable = {
    deleteRecursively(Paths.get(root))
    val t = apply(spark, root, config)
    t.create(df)
    t
  }

  /** Materialize `df` at `root` ONLY when `contentSig` differs from the
    * signature the previous materialization recorded (or no table exists
    * yet) — idempotent caching for derived indexes (a near-dup signature
    * store, a fixture) whose source a caller can summarize cheaply. The
    * signature is the CALLER's summary of the SOURCE (e.g. row count +
    * id-hash sum — columns far cheaper to scan than the data being
    * derived); the stored data itself is never compared. On a signature
    * hit `df` is not evaluated at all. The signature is durably recorded
    * beside the manifests, so reuse works across JVMs, and an interrupted
    * rebuild can't leave a stale hit: the signature file is deleted
    * before the rebuild and rewritten only after `create` commits. */
  def replaceIfChanged(
      spark: SparkSession, root: String, config: TableConfig,
      contentSig: String, df: => DataFrame): CowTable = {
    val rootPath = Paths.get(root)
    val sigPath = rootPath.resolve("_manifests").resolve("_content_sig")
    val prior =
      if (Files.exists(sigPath)) Some(Files.readString(sigPath).trim)
      else None
    if (prior.contains(contentSig) && currentVersionAt(rootPath) > 0)
      apply(spark, root, config)
    else {
      Files.deleteIfExists(sigPath)
      val t = replace(spark, root, config, df)
      Files.writeString(sigPath, contentSig)
      t
    }
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toSeq)
        .reverse.foreach(f => Files.deleteIfExists(f))
    }

  /** Strings ordered by their UTF-8 bytes (unsigned) — the order parquet
    * footer stats and Spark min/max use; JVM String ordering (UTF-16 code
    * units) diverges for supplementary-plane characters. */
  val utf8Ordering: Ordering[String] =
    (a: String, b: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Can any of `added`'s first-key [min,max] ranges intersect any of
    * `footprint`'s? Missing stats on either side count as unbounded
    * (⇒ overlap) — the conservative direction: a false "overlap" costs a
    * retry, a false "disjoint" would corrupt a rebase. */
  private[graft] def keyRangesOverlap(
      added: Seq[FileEntry], footprint: Seq[FileEntry],
      numeric: Boolean): Boolean = {
    def rng(e: FileEntry): Option[(String, String)] =
      for { mn <- e.minKey; mx <- e.maxKey } yield (mn, mx)
    if (footprint.isEmpty) added.nonEmpty // no provable footprint: assume
    else {
      val fr = footprint.map(rng)
      added.exists { a =>
        rng(a) match {
          case None => true
          case Some((amn, amx)) => fr.exists {
            case None => true
            case Some((fmn, fmx)) =>
              // disjoint only when provably ordered apart on both sides
              (KeyPrune.compare(amx, fmn, numeric),
                KeyPrune.compare(fmx, amn, numeric)) match {
                case (Some(a), Some(b)) => a >= 0 && b >= 0
                case _ => true
              }
          }
        }
      }
    }
  }
}
