package graft.storage

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.{BlockMetaData, CompressionCodecName}
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile, LocalOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import org.json4s.{Formats, NoTypeHints}
import org.json4s.jackson.Serialization

/** PARQUET-encoded checkpoint manifests (the Delta parquet-checkpoint
  * architecture): every FULL manifest — v1, every
  * [[CowTable.ManifestCheckpointEvery]]-th version, and any commit whose
  * delta would be no smaller than the list — stores its [[FileEntry]] list
  * as one parquet row per file next to the JSON commit record; the
  * versions in between are JSON deltas. Cold planning on a 100k-file
  * table then costs a compressed columnar read plus a per-row decode — not
  * one monolithic driver-side JSON parse whose transient AST dwarfs the
  * data (the reason Delta moved its checkpoints to parquet).
  *
  * Round 18 adds the ICEBERG MANIFEST-LIST analog: rows are SORTED by
  * (partition path value, leading-key min) and carry three derived
  * byte-orderable columns (`part`, `minKeyOrd`, `maxKeyOrd` — see
  * [[StatOrd]]), deliberately small row groups, and [[readPruned]] — a
  * predicate-driven read that selects checkpoint ROW GROUPS from footer
  * stats, so a partition- or key-pruned COLD scan on a 10⁶-file table
  * decodes O(matching files) entries instead of all of them.
  *
  * I/O is plain local-file parquet (no Hadoop filesystem or
  * `Configuration`), so a small checkpoint costs about a millisecond to
  * write or read. Integrity is a CRC32C of the whole sidecar, recorded in
  * the referencing manifest ([[CommitManifest.filesParquetCrc32c]]) and
  * verified by every read before a single entry decodes.
  *
  * Scalar fields are TYPED columns; the three nested stat maps (`extra`,
  * `nulls`, `ndv` — sparse, absent on most files) ride as compact
  * per-entry JSON, written with the exact serializer the JSON manifest
  * uses, so the round-trip is bit-identical by construction. */
private[graft] object ManifestCheckpoint {

  private implicit val formats: Formats = Serialization.formats(NoTypeHints)

  /** File-name suffix — checkpoint sidecars live in `_manifests/` as
    * `v%05d-<uuid>.files.parquet` (the uuid keeps racing writers' outputs
    * distinct; the loser's file is unreferenced garbage it deletes). */
  val Suffix = ".files.parquet"

  /** Default row-group size: small enough that a one-partition predicate
    * over a 100k-entry checkpoint skips most groups (~1–3k entries per
    * group at typical entry width), large enough that a full read pays
    * negligible per-group overhead. */
  val DefaultRowGroupBytes: Long = 256L * 1024

  private val Schema = MessageTypeParser.parseMessageType(
    """message graft_checkpoint {
      |  required binary path (STRING);
      |  required int64 rows;
      |  optional binary minKey (STRING);
      |  optional binary maxKey (STRING);
      |  optional binary minKey2 (STRING);
      |  optional binary maxKey2 (STRING);
      |  required int64 bytes;
      |  optional binary extraJson (STRING);
      |  optional binary nullsJson (STRING);
      |  optional binary ndvJson (STRING);
      |  optional binary zorderBy (STRING);
      |  optional binary dvPath (STRING);
      |  required int64 dvRows;
      |  optional binary part (STRING);
      |  optional binary minKeyOrd (STRING);
      |  optional binary maxKeyOrd (STRING);
      |}""".stripMargin)

  /** The entry's hive partition path value under `partitionKey` — the
    * same derivation the scan prunes by ([[CowTable.pathPartValue]]). */
  private def partOf(pk: Option[String], e: FileEntry): Option[String] =
    CowTable.pathPartValue(pk, e)

  /** Write `files` as a checkpoint at `target` (which must not exist);
    * returns the file's CRC32C for the referencing manifest. */
  def write(target: Path, files: Seq[FileEntry],
      partitionKey: Option[String] = None, keyNumeric: Boolean = false,
      rowGroupBytes: Long = DefaultRowGroupBytes): Long = {
    val w = ExampleParquetWriter.builder(new LocalOutputFile(target))
      .withConf(new PlainParquetConfiguration())
      .withType(Schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(rowGroupBytes)
      .build()
    val factory = new SimpleGroupFactory(Schema)
    // derive the index columns once, then SORT (part, minKeyOrd) with
    // absent values FIRST: entries block selection can never skip (flat
    // layout / retired-era / stat-less files) cluster together instead of
    // pinning every row group
    val rows: Seq[(Option[String], Option[String], Option[String], FileEntry)] =
      files.map { e =>
        (partOf(partitionKey, e),
          e.minKey.flatMap(StatOrd.encodeKey(_, keyNumeric)),
          e.maxKey.flatMap(StatOrd.encodeKey(_, keyNumeric)), e)
      }
    implicit val byteOrd: Ordering[String] = (a: String, b: String) =>
      StatOrd.byteCompare(StatOrd.bytes(a), StatOrd.bytes(b))
    val sorted = rows.sortBy { case (p, mnOrd, _, _) => (p, mnOrd) }(
      Ordering.Tuple2(Ordering.Option(byteOrd), Ordering.Option(byteOrd)))
    try sorted.foreach { case (part, mnOrd, mxOrd, e) =>
      val g = factory.newGroup()
      g.append("path", e.path)
      g.append("rows", e.rows)
      e.minKey.foreach(g.append("minKey", _))
      e.maxKey.foreach(g.append("maxKey", _))
      e.minKey2.foreach(g.append("minKey2", _))
      e.maxKey2.foreach(g.append("maxKey2", _))
      g.append("bytes", e.bytes)
      if (e.extra.nonEmpty) g.append("extraJson", Serialization.write(e.extra))
      if (e.nulls.nonEmpty) g.append("nullsJson", Serialization.write(e.nulls))
      if (e.ndv.nonEmpty) g.append("ndvJson", Serialization.write(e.ndv))
      e.zorderBy.foreach(g.append("zorderBy", _))
      e.dvPath.foreach(g.append("dvPath", _))
      g.append("dvRows", e.dvRows)
      part.foreach(g.append("part", _))
      mnOrd.foreach(g.append("minKeyOrd", _))
      mxOrd.foreach(g.append("maxKeyOrd", _))
      w.write(g)
    } finally w.close()
    checksum(target)
  }

  private def checksum(p: Path): Long = {
    val c = new java.util.zip.CRC32C()
    c.update(Files.readAllBytes(p))
    c.getValue
  }

  private def entryOf(g: Group): FileEntry = {
    def opt(f: String): Option[String] =
      if (g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0)
        Some(g.getString(f, 0))
      else None
    FileEntry(
      path = g.getString("path", 0),
      rows = g.getLong("rows", 0),
      minKey = opt("minKey"),
      maxKey = opt("maxKey"),
      minKey2 = opt("minKey2"),
      maxKey2 = opt("maxKey2"),
      bytes = g.getLong("bytes", 0),
      extra = opt("extraJson")
        .fold(Map.empty[String, ColRange])(
          Serialization.read[Map[String, ColRange]]),
      nulls = opt("nullsJson")
        .fold(Map.empty[String, Long])(
          Serialization.read[Map[String, Long]]),
      ndv = opt("ndvJson")
        .fold(Map.empty[String, Seq[Long]])(
          Serialization.read[Map[String, Seq[Long]]]),
      zorderBy = opt("zorderBy"),
      dvPath = opt("dvPath"),
      dvRows = g.getLong("dvRows", 0))
  }

  /** The whole entry list of the checkpoint at `target`. */
  def read(target: Path, crc32c: Long): Seq[FileEntry] =
    readPruned(target, crc32c, CkptPred())

  /** PREDICATE-pruned checkpoint read: select row groups whose footer
    * stats could hold a matching entry, then decode only those. A block
    * is skipped ONLY when its stats PROVE every entry fails the same
    * conservative per-entry checks the scan applies afterwards — missing
    * columns, absent stats, or any nulls in an index column all keep the
    * block, so the composed result is exactly the full fold's prune
    * result. An empty `pred` keeps every block: the full read. Fails
    * before decoding anything when the file's CRC32C differs from
    * `crc32c` (the value [[write]] returned). */
  def readPruned(target: Path, crc32c: Long, pred: CkptPred)
      : Seq[FileEntry] = {
    val actual = checksum(target)
    if (actual != crc32c)
      throw new java.io.IOException(f"graft: manifest checkpoint $target " +
        f"is corrupt: CRC32C $actual%08x, manifest records $crc32c%08x")
    // per-block column stats: (min bytes, max bytes, numNulls); None when
    // the column/stats are absent (old checkpoint ⇒ never skip)
    def stats(b: BlockMetaData, col: String)
        : Option[(Array[Byte], Array[Byte], Long)] =
      b.getColumns.asScala
        .find(c => c.getPath.toDotString == col)
        .flatMap { c =>
          val s = c.getStatistics
          if (s == null || s.isEmpty || !s.hasNonNullValue) None
          else Some((s.getMinBytes, s.getMaxBytes, s.getNumNulls))
        }

    def cmp(a: Array[Byte], b: Array[Byte]): Int = StatOrd.byteCompare(a, b)
    val nullSeg = StatOrd.bytes(CowTable.NullPartitionName)

    def keepBlock(b: BlockMetaData): Boolean = {
      // partition constraints: a block with part-nulls may hold flat-
      // layout / retired-era files the scan must read
      val pOk = stats(b, "part") match {
        case None => true
        case Some((mn, mx, nulls)) if nulls > 0 => true
        case Some((mn, mx, _)) =>
          val inOk = pred.partIn.forall(_.exists { v =>
            val vb = StatOrd.bytes(v)
            cmp(mn, vb) <= 0 && cmp(vb, mx) <= 0
          })
          val loOk = pred.partLo.forall(lo => cmp(mx, StatOrd.bytes(lo)) >= 0)
          val hiOk = pred.partHi.forall(hi => cmp(mn, StatOrd.bytes(hi)) <= 0)
          // range/IN constraints never match the null-partition sentinel,
          // and dropNullPart skips a provably all-sentinel block
          val constrained = pred.partIn.isDefined ||
            pred.partLo.isDefined || pred.partHi.isDefined
          val allSentinel = cmp(mn, nullSeg) == 0 && cmp(mx, nullSeg) == 0
          val sentinelDrop =
            (pred.dropNullPart || constrained) && allSentinel
          inOk && loOk && hiOk && !sentinelDrop
      }
      if (!pOk) return false
      // leading-key bounds: a matching entry needs maxKey >= lo and
      // minKey <= hi; block-level that is max(maxKeyOrd) >= lo and
      // min(minKeyOrd) <= hi. Nulls (stat-less entries) keep the block.
      val loOk = pred.keyLoOrd.forall { lo =>
        stats(b, "maxKeyOrd") match {
          case None => true
          case Some((_, _, nulls)) if nulls > 0 => true
          case Some((_, mx, _)) => cmp(mx, StatOrd.bytes(lo)) >= 0
        }
      }
      val hiOk = pred.keyHiOrd.forall { hi =>
        stats(b, "minKeyOrd") match {
          case None => true
          case Some((_, _, nulls)) if nulls > 0 => true
          case Some((mn, _, _)) => cmp(mn, StatOrd.bytes(hi)) <= 0
        }
      }
      loOk && hiOk
    }

    val rd = ParquetFileReader.open(new LocalInputFile(target),
      ParquetReadOptions.builder(new PlainParquetConfiguration()).build())
    try {
      val schema = rd.getFileMetaData.getSchema
      val io = new ColumnIOFactory().getColumnIO(schema)
      val out = Seq.newBuilder[FileEntry]
      rd.getRowGroups.asScala.zipWithIndex.foreach { case (b, i) =>
        if (pred.isEmpty || keepBlock(b)) {
          val pages = rd.readRowGroup(i)
          val rr = io.getRecordReader(pages, new GroupRecordConverter(schema))
          var n = pages.getRowCount
          while (n > 0) { out += entryOf(rr.read()); n -= 1 }
        }
      }
      out.result()
    } finally rd.close()
  }
}
