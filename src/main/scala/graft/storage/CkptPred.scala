package graft.storage

import java.nio.charset.StandardCharsets
import java.nio.file.Path

import scala.util.Try

/** ORDER-PRESERVING stat encodings for the partition/key-indexed parquet
  * checkpoint (the Iceberg manifest-list analog): checkpoint rows are
  * sorted by (partition value, leading-key min) and a pruned cold scan
  * selects checkpoint ROW GROUPS from their parquet footer stats before
  * decoding a single [[FileEntry]]. Parquet computes binary min/max in
  * UNSIGNED BYTE order, so every value that participates in block
  * selection must be a string whose byte order IS its semantic order:
  *
  *  - NUMERIC key stats (BigDecimal space) map through round-to-nearest
  *    `doubleValue` into sign-flipped IEEE-754 bits rendered as fixed
  *    width hex. Rounding to nearest is MONOTONE (x ≤ y ⇒ round(x) ≤
  *    round(y)), which is exactly the property block selection needs:
  *    a true overlap in BigDecimal space implies an overlap of the
  *    encoded values, so a skipped block provably holds no matching
  *    entry — the encoding may be lossy, the pruning never is.
  *  - STRING key stats ride raw: the engine's lexical stat space is
  *    [[CowTable.utf8Ordering]] (UTF8String.compareTo = unsigned byte
  *    order), the same order parquet computes stats in.
  *  - PARTITION path values ride raw; range bounds participate only
  *    when pure ASCII (an ASCII bound compares identically in Java
  *    UTF-16 order — the scan's semantic — and byte order, for ANY
  *    other operand; a non-ASCII bound just disables block selection,
  *    never skips wrongly). Equality/IN sets are order-free and safe
  *    for any value.
  */
private[graft] object StatOrd {

  /** Fixed-width byte-orderable encoding of a numeric stat string; None
    * for unparseable stats (NaN/Infinity doubles) — the entry then rides
    * with a NULL ord column and its block is never skipped on the key. */
  def encodeNumeric(s: String): Option[String] =
    Try(BigDecimal(s)).toOption.map { bd =>
      var d = bd.doubleValue // round-to-nearest: monotone into double space
      if (d == 0.0) d = 0.0 // collapse -0.0 (BigDecimal treats them equal)
      var bits = java.lang.Double.doubleToLongBits(d)
      bits = if (bits < 0) ~bits else bits ^ java.lang.Long.MIN_VALUE
      f"$bits%016x"
    }

  /** The byte-comparable form of one side of a key bound: numeric keys
    * encode, string keys ride raw (byte order is already semantic). */
  def encodeKey(statStr: String, numeric: Boolean): Option[String] =
    if (numeric) encodeNumeric(statStr) else Some(statStr)

  def isAscii(s: String): Boolean = s.forall(_ < 0x80)

  /** Unsigned byte compare of two UTF-8 byte arrays (parquet's binary
    * stat order). */
  def byteCompare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  def bytes(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
}

/** A scan's checkpoint-prunable predicate, pre-normalized to BYTE-
  * comparable strings (see [[StatOrd]]). Every field is conservative:
  * None ⇒ no constraint; a block is skipped only when its footer stats
  * PROVE no entry can match. Composing with the driver-side per-entry
  * prune yields exactly the full-fold prune result: a skipped block's
  * entries all fail the same per-entry checks. The scan derives one
  * from its compiled filters ([[graft.sources.FilePredicate.ckptPred]]). */
private[graft] final case class CkptPred(
    /** Partition-value equality set (exact byte equality — safe for any
      * values). */
    partIn: Option[Set[String]] = None,
    /** Partition range bounds (hidden-partitioning derivation); must be
      * pure ASCII or the constructor should leave them None. */
    partLo: Option[String] = None,
    partHi: Option[String] = None,
    /** `pk IS NOT NULL` pushed: entries in the hive null-partition dir
      * can be skipped. */
    dropNullPart: Boolean = false,
    /** Leading-key bound, already [[StatOrd.encodeKey]]-encoded. */
    keyLoOrd: Option[String] = None,
    keyHiOrd: Option[String] = None) {
  def isEmpty: Boolean =
    partIn.isEmpty && partLo.isEmpty && partHi.isEmpty && !dropNullPart &&
      keyLoOrd.isEmpty && keyHiOrd.isEmpty
}

/** LAZY file-list access for scan planning. `full` is the exact folded
  * list ([[CowTable.manifestAt]], cache-served); `pruned` may decode only
  * the checkpoint row groups matching a [[CkptPred]] — the result is the
  * full list minus entries the per-entry prune would provably drop, so
  * composing it with the existing driver-side prune changes nothing but
  * cold-planning cost. Eager instances (tests, row-level ops that already
  * hold a resolved manifest) wrap a concrete list. */
private[graft] final class ManifestFiles(
    root: Path, version: Int, eager: Option[Seq[FileEntry]]) {

  lazy val full: Seq[FileEntry] =
    eager.getOrElse(CowTable.manifestAt(root, version).files)

  def pruned(pred: CkptPred): Seq[FileEntry] =
    if (pred.isEmpty) full
    else eager.getOrElse(CowTable.manifestFilesPruned(root, version, pred))
}

private[graft] object ManifestFiles {
  def eager(files: Seq[FileEntry]): ManifestFiles =
    new ManifestFiles(null, 0, Some(files))
  def lazyAt(root: Path, version: Int): ManifestFiles =
    new ManifestFiles(root, version, None)
}
