package graft.pipeline

import graft.operators.CdcDedup
import graft.storage.CowTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end CDC materialization: bookmark-filtered batch → dedup → op
  * routing → MERGE upsert then MERGE delete → new COW snapshots. This is the
  * reference's recurring CDC job re-expressed Spark-first
  * (reference: src/iceberg/iceberg-cdc-load.py:68-150,
  * src/hudi/hudi-cdc-load.py:59-209, src/delta/delta-cdc-load.py:61-141).
  *
  * Semantics preserved exactly:
  *  - per key keep only max-event-time rows (SURVEY.md §2.2); with a
  *    precombine key configured (or `tieBreak` columns passed), ties break
  *    deterministically on it, else the reference's keep-both behavior
  *    stands and a key-uniqueness assert plays the role of Iceberg/Delta's
  *    multiple-source-match MERGE error;
  *  - route by final Op: I → insert path, U/D → update/delete path, union,
  *    stamp the `last_applied_date` audit column
  *    (reference: src/hudi/hudi-cdc-load.py:93-95 — the merged target KEEPS
  *    this column, so the table gains it via schema-merge-on-write);
  *  - apply upserts BEFORE deletes (the reference's statement order,
  *    src/iceberg/iceberg-cdc-load.py:125-150 — semantic, SURVEY.md §7.4.2:
  *    a key whose final row is D is removed even if a tied U also survived);
  *  - empty batch ⇒ "No Data changed." early exit, no commit
  *    (src/iceberg/iceberg-cdc-load.py:79-82).
  *
  * A batch is two commits (two versions, `$history` rows and change-feed
  * versions); on a deletion-vector table both come from ONE match scan
  * ([[CowTable.upsertThenDelete]]). Under a strict dedup the upsert and
  * delete key sets are disjoint (one surviving row per key), so the
  * upsert's appended files cannot hold a delete key and are not scanned.
  * Under the keep-ties dedup a key may survive as both U/I and D: the
  * upsert marks its old row, the delete scans the appended files for it.
  */
object CdcPipeline {

  final case class BatchResult(
      opCounts: Map[String, Long], upsertVersion: Int, deleteVersion: Int)

  /** Apply one deduplicated CDC batch to `table`. `auditTs` is the
    * `last_applied_date` value — injectable for deterministic tests/oracles
    * (the reference stamps wall-clock `datetime.now()`,
    * src/hudi/hudi-cdc-load.py:93). */
  def applyBatch(
      table: CowTable, batch: DataFrame,
      opCol: String = "Op", tsCol: String = "timestamp",
      auditTs: Column = current_timestamp(),
      /** Deterministic dedup tie-break columns when the TABLE declares no
        * precombine key (e.g. a deletion-vector table, whose MOR upsert is
        * precombine-free by design) — the batch still dedups strictly. */
      tieBreak: Seq[String] = Nil): BatchResult = {
    val cfg = table.config
    val events = batch.withColumn(tsCol, to_timestamp(col(tsCol)))
    val pcs = cfg.precombineKey.map(Seq(_)).getOrElse(tieBreak)
    val deduped =
      if (pcs.nonEmpty)
        CdcDedup.latestPerKeyStrict(events, cfg.primaryKey, tsCol, pcs)
      else CdcDedup.latestPerKey(events, cfg.primaryKey, tsCol)
    // Op routing + audit column (reference :96-104). The I/U-D split-then-
    // union mirrors the reference's dataflow (and drops any unknown Op).
    val inserted = deduped.filter(col(opCol) === "I")
    val updatedOrDeleted = deduped.filter(col(opCol).isin("U", "D"))
    // Cache the deduped batch: three consumers follow (metrics, upsert
    // source, delete keys) and each would otherwise recompute the window
    // dedup shuffle — the uncached-lineage recomputation SURVEY.md §4 calls
    // out in the reference (4 count() jobs, src/hudi/hudi-cdc-load.py:97-104)
    // and this pipeline must not copy. CDC batches are the small side by
    // design, so MEMORY_AND_DISK is safe at any scale.
    val finalInput = inserted.unionAll(updatedOrDeleted)
      .withColumn("last_applied_date", to_timestamp(auditTs))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Single-pass per-Op metrics (vs the reference's 4 separate counts).
      val counts = CdcDedup.opCounts(finalInput, opCol)
      // Upserts first, then deletes — reference statement order. A side
      // the counts show empty is not run at all.
      val upserts = Some(finalInput.filter(col(opCol) =!= "D").drop(opCol))
        .filter(_ => counts.keySet.exists(_ != "D"))
      val dels = Some(finalInput.filter(col(opCol) === "D")
        .select(cfg.primaryKey.map(col): _*)).filter(_ => counts.contains("D"))
      // the strict dedup (a precombine key or tie-break set) leaves one
      // row per key by construction; only the keep-ties dedup can leave a
      // key on both sides, or duplicates for the upsert's assert to catch
      val (v1, v2) = table.upsertThenDelete(upserts, dels,
        oneRowPerKey = pcs.nonEmpty)
      BatchResult(counts, v1, v2)
    } finally finalInput.unpersist(blocking = false)
  }

  /** The recurring job: consume only files the bookmark has not seen, apply,
    * then advance the bookmark (post-commit, so a crash replays the batch —
    * idempotent by the dedup+merge convergence property). Returns None on an
    * empty batch ("No Data changed.", src/iceberg/iceberg-cdc-load.py:79-82).
    */
  def run(
      spark: SparkSession, table: CowTable, cdcDir: String,
      bookmarkPath: String,
      opCol: String = "Op", tsCol: String = "timestamp",
      auditTs: Column = current_timestamp()): Option[BatchResult] = {
    val bm = Bookmark(bookmarkPath)
    val files = bm.newFiles(cdcDir)
    if (files.isEmpty) None
    else {
      val batch = spark.read.parquet(files: _*)
      val res = applyBatch(table, batch, opCol, tsCol, auditTs)
      bm.commit(files)
      Some(res)
    }
  }
}
