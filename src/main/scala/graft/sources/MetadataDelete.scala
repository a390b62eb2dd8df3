package graft.sources

import graft.storage.{CommitManifest, FileEntry}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

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
  * V2 predicate, and `canDeleteWhere` accepts. Acceptance asks the scan's
  * per-file evaluator ([[FilePredicate]]) for every manifest file: the
  * delete is metadata-only iff NO file answers `Unknown`. `All` files drop
  * from the manifest (their deletion-vector sidecar pointer drops with the
  * entry), `No` files carry unchanged. Any `Unknown` declines — Spark then
  * runs the ordinary row-level rewrite, so a decline is never wrong, only
  * slower.
  */
private[sources] object MetadataDelete {

  /** Files the conjunction provably deletes in full — `Some(dropSet)` iff
    * EVERY file is decisively `All` or `No`; `None` ⇒ not metadata-only. */
  def coveredFiles(
      m: CommitManifest, schema: StructType, filters: Seq[Filter])
      : Option[Seq[FileEntry]] = {
    val pred = FilePredicate(m, schema, filters)
    val drop = Vector.newBuilder[FileEntry]
    m.files.foreach { e =>
      pred.eval(e) match {
        case FilePredicate.All => drop += e
        case FilePredicate.No => ()
        case FilePredicate.Unknown => return None
      }
    }
    Some(drop.result())
  }
}
