package graft.sources

import java.nio.file.Path

import graft.storage.{CowTable, LakeRegistry}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{
  SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Iceberg-style METADATA TABLES behind `$`-suffixed names on the catalog:
  *
  * {{{
  *   SELECT * FROM lake.default.`users$history`  -- commit log
  *   SELECT * FROM lake.default.`users$files`    -- current snapshot files
  * }}}
  *
  * Both are O(versions)/O(files) MANIFEST reads served as a [[LocalScan]] —
  * driver-local rows, no jobs, no data IO; exactly the introspection the
  * reference reads from engine system tables (Athena `$files`/history,
  * /root/reference/README.md query examples). DESCRIBE-HISTORY-style
  * auditing and small-file diagnosis (feeding `compact`/`optimize`
  * decisions) become plain SQL.
  */
object GraftMetadataTables {

  val HistorySchema: StructType = StructType(Seq(
    StructField("version", IntegerType, nullable = false),
    StructField("parent", IntegerType, nullable = false),
    StructField("commit_time", TimestampType, nullable = true),
    StructField("data_change", BooleanType, nullable = false),
    StructField("row_count", LongType, nullable = false),
    StructField("file_count", IntegerType, nullable = false),
    StructField("stream_query_id", StringType, nullable = true),
    StructField("stream_epoch_id", LongType, nullable = true)))

  val FilesSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("min_key", StringType, nullable = true),
    StructField("max_key", StringType, nullable = true),
    StructField("min_key2", StringType, nullable = true),
    StructField("max_key2", StringType, nullable = true),
    StructField("partition_value", StringType, nullable = true),
    StructField("dv_rows", LongType, nullable = false),
    StructField("dv_path", StringType, nullable = true)))

  val PartitionsSchema: StructType = StructType(Seq(
    StructField("partition_value", StringType, nullable = true),
    StructField("file_count", LongType, nullable = false),
    StructField("row_count", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("avg_file_bytes", LongType, nullable = false)))

  /** `$column_stats`: one row per declared stats column — the merged
    * K-minimum-values NDV estimate ([[graft.storage.TableConfig.ndvSketch]];
    * NULL when any file lacks a sketch) and the footer null-count sum
    * (NULL when any file lacks one). The ndv DOUBLE is the RAW deterministic
    * KMV estimate, replayable externally (an approximate statistic with an
    * exact oracle — same discipline as the kmv_distinct SQL function). */
  val ColumnStatsSchema: StructType = StructType(Seq(
    StructField("col_name", StringType, nullable = false),
    StructField("ndv", org.apache.spark.sql.types.DoubleType,
      nullable = true),
    StructField("null_count", LongType, nullable = true)))

  /** The metadata table for suffix `kind`, or None for an unknown suffix. */
  def table(warehouse: String, e: LakeRegistry.Entry, root: Path,
      kind: String): Option[Table] = kind match {
    case "history" => Some(new MetaTable(
      s"${e.table_name}$$history", HistorySchema, () => historyRows(root)))
    case "files" => Some(new PartPrunedMetaTable(
      s"${e.table_name}$$files", FilesSchema,
      partIn => fileRows(e, root, partIn)))
    case "partitions" => Some(new PartPrunedMetaTable(
      s"${e.table_name}$$partitions", PartitionsSchema,
      partIn => partitionRows(root, partIn)))
    case "column_stats" => Some(new MetaTable(
      s"${e.table_name}$$column_stats", ColumnStatsSchema,
      () => columnStatsRows(root)))
    case "tags" => Some(new MetaTable(
      s"${e.table_name}$$tags", TagsSchema, () => tagRows(root)))
    case "detail" => Some(new MetaTable(
      s"${e.table_name}$$detail", DetailSchema, () => detailRows(e, root)))
    case _ => None
  }

  /** DESCRIBE-DETAIL parity (`$detail`): ONE row of table-level facts —
    * identity/layout/size/feature flags/ref counts — folded from the
    * current manifest, no jobs, no data IO. The at-a-glance row an
    * operator reads before deciding on compact/optimize/vacuum. */
  val DetailSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("location", StringType, nullable = false),
    StructField("version", IntegerType, nullable = false),
    StructField("earliest_readable_version", IntegerType, nullable = false),
    StructField("created_at", TimestampType, nullable = true),
    StructField("last_modified", TimestampType, nullable = true),
    StructField("num_files", LongType, nullable = false),
    StructField("num_rows", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false),
    StructField("dv_files", LongType, nullable = false),
    StructField("dv_rows", LongType, nullable = false),
    StructField("primary_key", StringType, nullable = false),
    StructField("partition_key", StringType, nullable = true),
    StructField("partition_spec", StringType, nullable = true),
    StructField("stats_columns", StringType, nullable = true),
    StructField("change_data_feed", BooleanType, nullable = false),
    StructField("deletion_vectors", BooleanType, nullable = false),
    StructField("bloom_index", BooleanType, nullable = false),
    StructField("num_tags", IntegerType, nullable = false),
    StructField("num_branches", IntegerType, nullable = false)))

  private def detailRows(e: LakeRegistry.Entry, root: Path)
      : Array[InternalRow] = {
    val cur = CowTable.currentVersionAt(root)
    if (cur == 0) return Array.empty
    val m = CowTable.manifestAt(root, cur)
    val earliest = CowTable.earliestReadableAt(root)
    val createdMs = scala.util.Try(
      CowTable.manifestAt(root, earliest).commitTimeMs).getOrElse(0L)
    val branches = {
      val dir = root.resolve("_branches")
      if (!java.nio.file.Files.isDirectory(dir)) 0
      else scala.util.Using.resource(java.nio.file.Files.list(dir))(s => {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.count(d => java.nio.file.Files.exists(
          d.resolve("_branch_meta.json")))
      })
    }
    Array(new GenericInternalRow(Array[Any](
      UTF8String.fromString(e.table_name),
      UTF8String.fromString(root.toString),
      cur, earliest,
      if (createdMs > 0) createdMs * 1000L else null,
      if (m.commitTimeMs > 0) m.commitTimeMs * 1000L else null,
      m.files.size.toLong, m.files.map(_.liveRows).sum,
      m.files.map(_.bytes).sum,
      m.files.count(_.dvPath.isDefined).toLong,
      m.files.map(_.dvRows).sum,
      UTF8String.fromString(m.primaryKey.mkString(",")),
      m.partitionKey.map(UTF8String.fromString).orNull,
      m.partitionSpec.map(UTF8String.fromString).orNull,
      if (m.statsColumns.isEmpty) null
      else UTF8String.fromString(m.statsColumns.mkString(",")),
      m.changeDataFeed, m.deletionVectors, m.bloomIndex,
      CowTable.tagsAt(root).size, branches
    )): InternalRow)
  }

  val TagsSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("version", IntegerType, nullable = false),
    StructField("commit_time", TimestampType, nullable = true)))

  private def tagRows(root: Path): Array[InternalRow] = {
    CowTable.tagsAt(root).toSeq.sortBy(_._1).map { case (n, v) =>
      val ts = scala.util.Try(CowTable.manifestAt(root, v).commitTimeMs)
        .getOrElse(0L)
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(n), v,
        if (ts > 0) ts * 1000L else null)): InternalRow
    }.toArray
  }

  private def historyRows(root: Path): Array[InternalRow] = {
    val cur = CowTable.currentVersionAt(root)
    (1 to cur).map { v =>
      val m = CowTable.manifestAt(root, v)
      new GenericInternalRow(Array[Any](
        m.version, m.parent,
        if (m.commitTimeMs > 0) m.commitTimeMs * 1000L else null,
        m.dataChange, m.rowCount, m.files.size,
        m.streamQueryId.map(UTF8String.fromString).orNull,
        m.streamEpochId.map(Long.box).orNull
      )): InternalRow
    }.toArray
  }

  /** The current snapshot's entries, partition-scoped through the PRUNED
    * checkpoint read when the caller pushed `partition_value` equality —
    * a superset of the matching entries (the residual filter restores
    * exactness), decoded from O(matching row groups) on a cold driver. */
  private def scopedFiles(root: Path, cur: Int, partIn: Option[Set[String]])
      : (graft.storage.CommitManifest, Seq[graft.storage.FileEntry]) =
    partIn match {
      case None =>
        val m = CowTable.manifestAt(root, cur)
        (m, m.files)
      case Some(vs) =>
        (CowTable.manifestHeaderAt(root, cur),
          CowTable.manifestFilesPruned(root, cur,
            graft.storage.CkptPred(partIn = Some(vs))))
    }

  private def fileRows(e: LakeRegistry.Entry, root: Path,
      partIn: Option[Set[String]]): Array[InternalRow] = {
    val cur = CowTable.currentVersionAt(root)
    if (cur == 0) return Array.empty
    val (m, files) = scopedFiles(root, cur, partIn)
    files.map { f =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(f.path), f.rows, f.bytes,
        f.minKey.map(UTF8String.fromString).orNull,
        f.maxKey.map(UTF8String.fromString).orNull,
        f.minKey2.map(UTF8String.fromString).orNull,
        f.maxKey2.map(UTF8String.fromString).orNull,
        GraftScan.pathPartValue(m.partitionKey, f)
          .map(UTF8String.fromString).orNull,
        f.dvRows,
        f.dvPath.map(UTF8String.fromString).orNull
      )): InternalRow
    }.toArray
  }

  /** Per-partition-value rollup of the current snapshot (Iceberg
    * `$partitions` parity): file/row/byte totals plus mean file size — the
    * small-file-sprawl and skew dashboard (which partition needs `compact`,
    * which value is hot) as one O(files) manifest fold, no jobs. An
    * unpartitioned table reports a single NULL-valued row. */
  private def partitionRows(root: Path, partIn: Option[Set[String]])
      : Array[InternalRow] = {
    val cur = CowTable.currentVersionAt(root)
    if (cur == 0) return Array.empty
    val (m, files) = scopedFiles(root, cur, partIn)
    files.groupBy(f => GraftScan.pathPartValue(m.partitionKey, f))
      .toSeq.sortBy(_._1.getOrElse(""))
      .map { case (pv, fs) =>
        val bytes = fs.map(_.bytes).sum
        new GenericInternalRow(Array[Any](
          pv.map(UTF8String.fromString).orNull,
          fs.size.toLong, fs.map(_.rows).sum, bytes,
          bytes / fs.size
        )): InternalRow
      }.toArray
  }

  private def columnStatsRows(root: Path): Array[InternalRow] = {
    val cur = CowTable.currentVersionAt(root)
    if (cur == 0) return Array.empty
    val m = CowTable.manifestAt(root, cur)
    m.statsColumns.map { c =>
      val phys = m.physicalName(c)
      val ndv: Any =
        if (m.files.nonEmpty && m.files.forall(_.ndv.contains(phys)))
          graft.functions.KmvSketch.estimate(
            m.files.map(_.ndv(phys).toArray)
              .reduce(graft.functions.KmvSketch.mergeSorted(
                _, _, CowTable.NdvK)).toSeq, CowTable.NdvK)
        else null
      val nulls: Any =
        if (m.files.nonEmpty && m.files.forall(_.nulls.contains(phys)))
          m.files.map(_.nulls(phys)).sum
        else null
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(c), ndv, nulls)): InternalRow
    }.toArray
  }

  /** Read-only driver-local table: rows materialize per scan (fresh
    * manifest state each query), never an executor job. */
  private final class MetaTable(
      tblName: String, tblSchema: StructType,
      data: () => Array[InternalRow])
    extends Table with SupportsRead {

    override def name(): String = tblName
    override def schema(): StructType = tblSchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)

    override def newScanBuilder(
        options: CaseInsensitiveStringMap): ScanBuilder =
      () => new LocalScan {
        override def rows(): Array[InternalRow] = data()
        override def readSchema(): StructType = tblSchema
        override def description(): String = s"graft metadata $tblName"
      }
  }

  /** `$files`/`$partitions` variant: `partition_value` equality/IN
    * conjuncts route the row build through the PRUNED checkpoint read
    * (round 18) — every filter stays RESIDUAL (pushedFilters is empty),
    * so Spark re-applies the exact predicate over the conservative
    * superset; pruning changes decode cost only, never results. */
  private final class PartPrunedMetaTable(
      tblName: String, tblSchema: StructType,
      data: Option[Set[String]] => Array[InternalRow])
    extends Table with SupportsRead {

    override def name(): String = tblName
    override def schema(): StructType = tblSchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)

    override def newScanBuilder(
        options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder
        with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
        import org.apache.spark.sql.sources.{EqualTo, Filter, In}
        private var partIn: Option[Set[String]] = None
        override def pushFilters(filters: Array[Filter]): Array[Filter] = {
          val sets = filters.collect {
            case EqualTo("partition_value", v: String) => Set(v)
            case In("partition_value", vs)
              if vs != null && vs.nonEmpty &&
                vs.forall(_.isInstanceOf[String]) =>
              vs.map(_.asInstanceOf[String]).toSet
          }
          partIn = sets.reduceOption(_ intersect _)
          filters // ALL residual — Spark restores exactness
        }
        override def pushedFilters(): Array[Filter] = Array.empty
        override def build(): Scan = new LocalScan {
          override def rows(): Array[InternalRow] = data(partIn)
          override def readSchema(): StructType = tblSchema
          override def description(): String =
            s"graft metadata $tblName" +
              partIn.fold("")(vs => s" partitionScoped=${vs.size}")
        }
      }
  }
}
