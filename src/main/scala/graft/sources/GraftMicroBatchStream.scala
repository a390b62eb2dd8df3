package graft.sources

import java.nio.file.{Files, Path}

import graft.storage.{CommitManifest, CowTable, FileEntry}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{
  MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType

/** Streaming-read options parsed by [[GraftScanBuilder]] from the
  * `readStream` option map. */
final case class GraftStreamOptions(
    /** First version whose changes ARE read — INCLUSIVE, Delta's
      * `startingVersion` convention for both streaming and batch feed
      * reads. Default 0 ⇒ from the table's first commit. */
    startingVersion: Int = 0,
    /** Stream the ADDED files of rewrite commits (upsert/delete/overwrite)
      * instead of failing — rewritten files re-emit their carried rows, so
      * downstream must tolerate duplicates (Delta's `ignoreChanges`). */
    ignoreChanges: Boolean = false,
    /** Admission control: at most this many commits per micro-batch (rate
      * limiting for catch-up over a long history). None = all available. */
    maxCommitsPerBatch: Option[Int] = None,
    /** Admission control by VOLUME: stop admitting commits once their
      * cumulative added-file row count would exceed this (a backlogged
      * 100 TB table must bound per-epoch rows, not commit count — one
      * bulk-load commit can outweigh a thousand CDC ticks). The first
      * commit of a batch always admits even when alone over the cap
      * (progress guarantee); composes with [[maxCommitsPerBatch]] as the
      * tighter of the two. Sizing-only: batch CONTENT semantics are
      * unchanged. None = unbounded. */
    maxRowsPerBatch: Option[Long] = None,
    /** Admission control by BYTES: rows are the wrong unit for wide
      * multimodal tables (one commit's rows can be 100× another's bytes at
      * equal count) — this caps cumulative added-file bytes per batch from
      * the per-file sizes the manifest already carries. Same progress
      * guarantee and composition rules as [[maxRowsPerBatch]]: the
      * tightest of all three caps wins. None = unbounded. */
    maxBytesPerBatch: Option[Long] = None,
    /** Stream the CHANGE FEED instead of the row stream: append commits
      * emit their added rows as `insert`s, mutation commits emit their
      * materialized `_cdc` rows (I/U/D with preimage deletes). Requires
      * mutating commits to carry change files
      * ([[graft.storage.TableConfig.changeDataFeed]]). */
    readChangeFeed: Boolean = false,
    /** BATCH change-feed reads only: the inclusive upper version of the
      * feed range (Delta's `endingVersion`). None = the scan's resolved
      * version (current, or `versionAsOf`). */
    endingVersion: Option[Int] = None)

/** Stream position = "all commits ≤ `version` processed". Commits are the
  * table's atomic units of change, so a (start, end] version range
  * deterministically names a file set — replay-safe under checkpoint
  * recovery. */
final case class GraftOffset(version: Int) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

/** MICRO-BATCH SOURCE over a graft table's commit log —
  * `spark.readStream.format("graft").load(root)`, the incremental-read twin
  * of the exactly-once streaming sink. Completes the reference's CDC loop
  * natively: the hourly micro-batch job that tails a lake table
  * (/root/reference/src/delta/delta-cdc-load.py runs as a scheduled
  * incremental read) becomes a standing `readStream` with checkpointed
  * offsets.
  *
  * Semantics (the Delta streaming-source contract, which the reference's
  * formats all share):
  *  - APPEND commits (only new files vs the parent) stream exactly their
  *    added rows; carried-over files are never re-read — per-batch cost is
  *    O(changed data), not O(table).
  *  - REWRITE commits (a parent file disappeared: upsert/delete/overwrite)
  *    fail loudly by default — silently re-emitting rewritten files would
  *    duplicate rows downstream. `option("ignoreChanges","true")` opts into
  *    streaming their added files anyway.
  *  - Reorganization commits (`dataChange=false`: compaction, rollback) are
  *    skipped entirely — same bytes, new layout, nothing to emit.
  *
  * Scale: planning a batch reads only the (start, end] manifests — O(files)
  * driver metadata, no data IO — and each batch's files go through the same
  * columnar reader as a batch scan. The scan's per-file evaluator
  * ([[FilePredicate]]) prunes each batch, but today only through the API:
  * Spark's V2ScanRelationPushDown matches batch relations only, so a
  * `readStream` filter runs as a residual (correct, unpruned) until
  * streaming pushdown lands upstream. Vacuumed history fails loud (offset
  * gap), never silently skips.
  */
final class GraftMicroBatchStream(
    root: Path, required: StructType, columnar: Boolean,
    /** The scan's compiled pushed filters: batch files answering `No`
      * are skipped. */
    pred: FilePredicate,
    opts: GraftStreamOptions,
    /** The partition filter was CONSUMED at plan time (no residual): a
      * batch file without a path-borne value must FAIL, not be kept. */
    exactPartPrune: Boolean = false)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** AvailableNow: the end version is pinned ONCE at stream start, so the
    * drain terminates even if writers keep committing. */
  @volatile private var pinnedEnd: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    pinnedEnd = Some(CowTable.currentVersionAt(root))

  // the INCLUSIVE option becomes the exclusive "already processed" offset
  override def initialOffset(): Offset =
    GraftOffset(math.max(0, opts.startingVersion - 1))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset =
    GraftOffset(CowTable.currentVersionAt(root))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftOffset].version
    val current = pinnedEnd.getOrElse(CowTable.currentVersionAt(root))
    val capped = opts.maxCommitsPerBatch match {
      case Some(n) => math.min(current, from + n)
      case None => current
    }
    val volCapped =
      if (opts.maxRowsPerBatch.isEmpty && opts.maxBytesPerBatch.isEmpty) capped
      else {
        // walk forward accumulating each commit's ADDED-file volume (rows
        // and bytes; 0 for non-dataChange reorgs) from the memoized
        // per-commit cache — manifests are immutable, so a long backlog
        // costs O(backlog) parses ONCE, not per trigger. Admit the first
        // volume-bearing commit unconditionally (progress guarantee); stop
        // once EITHER cap would be exceeded.
        var v = from
        var accR = 0L
        var accB = 0L
        var stop = false
        while (!stop && v < capped) {
          commitVolume(v + 1) match {
            case Some((rows, bytes)) =>
              val over = opts.maxRowsPerBatch.exists(accR + rows > _) ||
                opts.maxBytesPerBatch.exists(accB + bytes > _)
              if ((accR > 0L || accB > 0L) && over) stop = true
              else { accR += rows; accB += bytes; v += 1 }
            case None =>
              // THIS commit's manifest is unreadable: admit the readable
              // prefix (or just this commit when nothing else is admitted,
              // so batch planning raises its actionable error) — never
              // silently wave the whole backlog past the cap.
              if (v == from) v += 1
              stop = true
          }
        }
        v
      }
    GraftOffset(math.max(from, volCapped))
  }

  /** Memoized ADDED volume (rows, bytes) of commit `v` — computed once per
    * stream instance (commit manifests are immutable); None when v's or its
    * parent's manifest is unreadable (the error scope is PER COMMIT, so an
    * unreadable commit never disables admission for the readable prefix). */
  private val volumeCache =
    scala.collection.concurrent.TrieMap.empty[Int, Option[(Long, Long)]]

  private def commitVolume(v: Int): Option[(Long, Long)] =
    volumeCache.getOrElseUpdate(v, scala.util.Try {
      val m = CowTable.manifestAt(root, v)
      if (!m.dataChange) (0L, 0L)
      else {
        val parentPaths: Set[String] =
          if (m.parent <= 0) Set.empty
          else CowTable.manifestAt(root, m.parent).files.map(_.path).toSet
        val added = m.files.filterNot(e => parentPaths(e.path))
        (added.map(_.rows).sum, added.map(_.bytes).sum)
      }
    }.toOption)

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def deserializeOffset(json: String): Offset = {
    val v = """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(
        s"graft: unreadable stream offset: $json"))
      .group(1).toInt
    GraftOffset(v)
  }

  /** Files ADDED by commits in (start, end], rewrite-checked and pruned. */
  private def addedFiles(startV: Int, endV: Int): Seq[(CommitManifest, FileEntry)] =
    ((startV + 1) to endV).flatMap { v =>
      val m =
        try CowTable.manifestAt(root, v)
        catch {
          case e: Exception => throw new IllegalStateException(
            s"graft stream: commit v$v of $root is unreadable (vacuumed or " +
              "corrupt history?) — restart the stream from a retained " +
              s"version via option(\"startingVersion\", ...)", e)
        }
      if (!m.dataChange) Nil // compaction/rollback: same rows, new layout
      else {
        val parentPaths: Set[String] =
          if (m.parent <= 0) Set.empty
          else CowTable.manifestAt(root, m.parent).files.map(_.path).toSet
        val currentPaths = m.files.map(_.path).toSet
        val removed = parentPaths -- currentPaths
        if (removed.nonEmpty && !opts.ignoreChanges)
          throw new IllegalStateException(
            s"graft stream: commit v$v of $root rewrote or deleted " +
              s"${removed.size} file(s) (upsert/delete/overwrite). The " +
              "stream serves appends exactly-once; rewritten files would " +
              "re-emit carried rows. Set option(\"ignoreChanges\",\"true\") " +
              "to stream added files anyway (downstream must dedup), or " +
              "read mutations as a change feed (CowTable.readChangeFeed).")
        val added = m.files.filterNot(e => parentPaths.contains(e.path))
        // the batch scan's per-file skipping, file by file
        val kept = added.filter { e =>
          if (exactPartPrune && pred.partitionValue(e).isEmpty)
            // the plan consumed the partition filter (nothing left for
            // Spark to re-apply) — an unattributable file (e.g. the
            // partition spec evolved mid-stream) cannot be silently kept
            // OR dropped; only a restart replans correctly
            throw new IllegalStateException(
              s"graft stream: commit v$v of $root added file ${e.path}" +
                " without a path-borne partition value while the " +
                "stream's partition filter was pushed exactly — " +
                "restart the stream so the filter re-plans against " +
                "the current partition spec")
          pred.keeps(e)
        }
        kept.map(m -> _)
      }
    }

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftOffset].version
    val e = end.asInstanceOf[GraftOffset].version
    if (opts.readChangeFeed)
      GraftCdf.partitions(root, s, e, "graft stream",
        "restart the change-feed stream from a retained version via " +
          "option(\"startingVersion\", ...)")
    else addedFiles(s, e).map { case (_, entry) =>
      GraftInputPartition(
        root.resolve(entry.path).toString,
        GraftScan.hivePathValues(entry.path))
    }.toArray
  }

  /** COLUMN MAPPING at stream start: the physical binding each required
    * (logical) column had when this run began. Captured once so a
    * mid-stream rename SWAP or DROP+re-ADD — which keeps the logical name
    * live but rebinds it to a different physical slot — is detected by a
    * binding comparison, not just a liveness check (liveness alone would
    * silently read the WRONG column's bytes). */
  private val startMapping: Map[String, String] = {
    val v = CowTable.currentVersionAt(root)
    if (v == 0) Map.empty else CowTable.manifestAt(root, v).columnMapping
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // COLUMN MAPPING: resolve the stream's (logical) required columns via
    // the CURRENT manifest — physical names are rename-stable, so one
    // mapping covers every commit in range. A column renamed, dropped, or
    // REBOUND (rename swap / drop+re-add reusing the logical name) since
    // the stream started no longer resolves to its original physical slot
    // — fail loudly (Delta likewise demands a restart on mid-stream schema
    // changes) rather than silently emitting another column's bytes or
    // null-filling forever.
    val cur = CowTable.currentVersionAt(root)
    val mapping = if (cur == 0) Map.empty[String, String] else {
      val m = CowTable.manifestAt(root, cur)
      val live = CowTable.structFromJson(m.schemaJson).fieldNames.toSet
      val gone = required.fieldNames.filterNot(c =>
        live(c) || CowTable.reservedColumns(c))
      if (gone.nonEmpty) throw new IllegalStateException(
        s"graft stream: column(s) ${gone.mkString(", ")} were renamed or " +
          s"dropped from $root after this stream started — restart the " +
          "stream so it re-resolves the table schema")
      val rebound = required.fieldNames.filterNot(CowTable.reservedColumns)
        .filter(c => m.columnMapping.getOrElse(c, c) !=
          startMapping.getOrElse(c, c))
      if (rebound.nonEmpty) throw new IllegalStateException(
        s"graft stream: column(s) ${rebound.mkString(", ")} of $root were " +
          "rebound (renamed over / dropped and re-added) after this " +
          "stream started — restart the stream so it re-resolves the " +
          "table schema")
      m.columnMapping
    }
    // GENERATED-column backfill for era-mixed tables (partition-spec
    // evolution): commits that predate the current transform stream files
    // without the column in file or path — the augmented columnar reader
    // derives it per batch (and subtracts deletion vectors on dropped
    // files), so the stream keeps vectorized decode
    val genFill: Option[GenFill] =
      if (cur == 0) None
      else {
        val m = CowTable.manifestAt(root, cur)
        GenFill.forScan(m, required, m.files,
          force = m.priorSpecs.nonEmpty)
      }
    // same `_pos` guard as the batch-scan factory: columnar decode has no
    // running-position vector — a stream read selecting `_pos` takes row
    // mode instead of silently reading NULL positions
    new GraftReaderFactory(required, columnar &&
      !required.fieldNames.contains(GraftTable.PosColumnName), mapping,
      genFill = genFill)
  }

  override def commit(end: Offset): Unit = () // engine-side checkpointing
  override def stop(): Unit = ()
}

/** Change-feed partition planning shared by the STREAMING source and the
  * BATCH `option("readChangeFeed","true")` scan: for commits (start, end],
  * either a commit's materialized `_cdc` files (physical `_change_type`,
  * constant `_commit_version`/`_commit_timestamp`) or — for pure-append
  * commits — its added data files with all metadata columns riding as
  * partition constants; for DROP-ONLY commits (metadata-only DELETE) —
  * the dropped files with constant `delete` metadata. A rewrite commit
  * (removed AND added files) without change files fails loudly: its
  * per-row changes were never recorded and cannot be reconstructed
  * file-wise (the API's `CowTable.readChangeFeed` can — via the
  * file-diff join — but a file-partition scan cannot). O(manifests in
  * range) driver metadata, no data IO at planning. */
private[sources] object GraftCdf {
  def partitions(root: Path, startV: Int, endV: Int,
      who: String, remediation: String): Array[InputPartition] =
    ((startV + 1) to endV).flatMap { v =>
      val m =
        try CowTable.manifestAt(root, v)
        catch {
          case e: Exception => throw new IllegalStateException(
            s"$who: commit v$v of $root is unreadable (vacuumed or " +
              s"corrupt history?) — $remediation", e)
        }
      if (!m.dataChange) Nil
      else m.cdcDir match {
        case Some(dir) =>
          import scala.jdk.CollectionConverters._
          val cdcPath = root.resolve(dir)
          if (!Files.isDirectory(cdcPath)) throw new IllegalStateException(
            s"$who: commit v$v's change files ($dir) were vacuumed — " +
              remediation)
          scala.util.Using.resource(Files.walk(cdcPath)) {
            _.iterator().asScala
              .filter(_.getFileName.toString.endsWith(".parquet"))
              .toSeq.sortBy(_.toString)
          }.map(p => GraftInputPartition(p.toString,
            Map("_commit_version" -> v.toString,
              "_commit_timestamp" -> (m.commitTimeMs * 1000L).toString)))
        case None =>
          val parentEntries: Seq[FileEntry] =
            if (m.parent <= 0) Nil
            else CowTable.manifestAt(root, m.parent).files
          val parentPaths: Set[String] = parentEntries.map(_.path).toSet
          val currentPaths = m.files.map(_.path).toSet
          val removed = parentPaths -- currentPaths
          val added = m.files.filterNot(e => parentPaths.contains(e.path))
          // DROP-ONLY commit (metadata-only DELETE: files removed, none
          // added): the change set is EXACTLY "every live row of each
          // dropped file is a delete" — serve the dropped files themselves
          // with constant delete metadata, subtracting each entry's
          // PARENT-manifest deletion vector so already-dead rows never
          // re-emit. A rewrite (removed AND added) stays a loud failure:
          // its per-row changes were never recorded.
          if (removed.nonEmpty && added.nonEmpty)
            throw new IllegalStateException(
              s"$who: commit v$v of $root rewrote files without " +
                "materialized change rows — create the table with " +
                "TableConfig(changeDataFeed = true) so mutations record " +
                "their exact changes, or read appends only (drop the " +
                "readChangeFeed option).")
          val meta = Map(
            "_commit_version" -> v.toString,
            "_commit_timestamp" -> (m.commitTimeMs * 1000L).toString)
          if (removed.nonEmpty)
            parentEntries.filter(e => removed.contains(e.path))
              .sortBy(_.path).map { e =>
                // mirror the vacuumed-_cdc planning-time check: a dropped
                // file reclaimed by vacuum must fail HERE with the
                // remediation, not as an executor FileNotFound
                if (!Files.exists(root.resolve(e.path)))
                  throw new IllegalStateException(
                    s"$who: commit v$v's dropped file ${e.path} was " +
                      s"vacuumed — $remediation")
                GraftInputPartition(root.resolve(e.path).toString,
                  GraftScan.hivePathValues(e.path) ++ meta +
                    ("_change_type" -> "delete"),
                  e.dvPath.map(p => (root.resolve(p).toString, e.path)))
              }
          else added.map(e =>
            GraftInputPartition(root.resolve(e.path).toString,
              GraftScan.hivePathValues(e.path) ++ meta +
                ("_change_type" -> "insert")))
      }
    }.toArray
}
