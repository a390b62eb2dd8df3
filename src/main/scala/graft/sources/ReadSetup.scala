package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.{ColumnIOFactory, LocalInputFile}

/** One JVM-wide Hadoop `Configuration`, parsed once. A fresh
  * `new Configuration()` re-parses the default resources (2.7 ms warm);
  * a copy of a loaded one clones its properties (0.08–0.16 ms). Every
  * per-file reader and writer takes its own copy, because parquet sets
  * per-file keys (requested schema, filter predicate, write schema) on it.
  * The copy constructor (re)loads the base's properties under its lock,
  * so a default resource registered later still reaches every copy. */
private[graft] object BaseConf {
  private val base = new Configuration()

  def copy(): Configuration = new Configuration(base)
}

/** A JVM-wide cache of decoded deletion-vector sidecars. A sidecar dir
  * holds parquet (path, pos) rows for every file its commit touched, and
  * every vectored file of a scan points at the same sidecar; so each
  * sidecar is decoded once, through local parquet I/O, into one sorted
  * position array per file.
  *
  * The cache is least-recently-used and bounded by the positions it holds
  * (`maxPositions`); a sidecar larger than the bound is decoded for its
  * reader and not kept. The key is the sidecar's part files with their
  * sizes and modification times, so a table deleted and re-created at the
  * same path never reads a stale entry. A referenced sidecar dir that is
  * missing fails the read, and the failure is not cached: reading it as
  * "no deletions" would bring deleted rows back. */
private[graft] class DvSidecarCache(val maxPositions: Long) {
  private type Key = Seq[(String, Long, Long)]

  /** One sidecar's decode, forced at most once (the lazy val's lock makes
    * concurrent first readers wait for the one decode). */
  private final class Slot(parts: Key) {
    lazy val byFile: Map[String, Array[Long]] = decode(parts)
    var held = -1L // positions counted against the bound; -1 until decoded
  }

  private val slots =
    new java.util.LinkedHashMap[Key, Slot](16, 0.75f, true) // access order
  private var held = 0L
  private val decodeCount = new AtomicLong

  /** Deleted row positions of `relPath` (root-relative) per the sidecar at
    * `dvDirAbs`, sorted ascending. The array is shared: never write to it. */
  def positions(dvDirAbs: String, relPath: String): Array[Long] = {
    val key = partsOf(dvDirAbs)
    val slot = slots.synchronized {
      var s = slots.get(key)
      if (s == null) { s = new Slot(key); slots.put(key, s) }
      s
    }
    val byFile =
      try slot.byFile
      catch { case t: Throwable =>
        slots.synchronized(slots.remove(key, slot))
        throw t
      }
    slots.synchronized {
      if (slot.held < 0 && (slots.get(key) eq slot)) {
        slot.held = byFile.valuesIterator.map(_.length.toLong).sum
        held += slot.held
        evict()
      }
    }
    byFile.getOrElse(relPath, Array.emptyLongArray)
  }

  /** Drops least-recently-used decoded sidecars until the bound holds;
    * the newest entry goes too when it alone exceeds the bound. */
  private def evict(): Unit = {
    val it = slots.values.iterator
    while (held > maxPositions && it.hasNext) {
      val s = it.next()
      if (s.held >= 0) { held -= s.held; it.remove() }
    }
  }

  /** Sidecar decodes since start (or the last [[clear]]). */
  def decodes: Long = decodeCount.get

  /** Positions currently held. */
  def heldPositions: Long = slots.synchronized(held)

  /** Empties the cache and resets the decode counter (cold-cache timing
    * and tests). */
  def clear(): Unit = slots.synchronized {
    slots.clear()
    held = 0L
    decodeCount.set(0L)
  }

  private def partsOf(dvDirAbs: String): Key = {
    val dir = Paths.get(dvDirAbs)
    if (!Files.isDirectory(dir))
      throw new IllegalStateException(
        s"deletion-vector sidecar $dvDirAbs is missing: the table's " +
          "manifest references it, and reading without it would return " +
          "deleted rows (validate() reports it as dv_sidecars_exist)")
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toSeq)
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(_.getFileName.toString)
      .map { p =>
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        (p.toString, a.size,
          a.lastModifiedTime.to(java.util.concurrent.TimeUnit.MICROSECONDS))
      }
  }

  private def decode(parts: Key): Map[String, Array[Long]] = {
    decodeCount.incrementAndGet()
    val acc = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuilder.ofLong]
    parts.foreach { case (p, _, _) =>
      val rd = ParquetFileReader.open(new LocalInputFile(Path.of(p)),
        ParquetReadOptions.builder(new PlainParquetConfiguration()).build())
      try {
        val schema = rd.getFileMetaData.getSchema
        val io = new ColumnIOFactory().getColumnIO(schema)
        val pathIdx = schema.getFieldIndex("path")
        val posIdx = schema.getFieldIndex("pos")
        var pages = rd.readNextRowGroup()
        while (pages != null) {
          val rr = io.getRecordReader(pages, new GroupRecordConverter(schema))
          var n = pages.getRowCount
          while (n > 0) {
            val g = rr.read()
            acc.getOrElseUpdate(g.getString(pathIdx, 0),
              new scala.collection.mutable.ArrayBuilder.ofLong)
              .addOne(g.getLong(posIdx, 0))
            n -= 1
          }
          pages = rd.readNextRowGroup()
        }
      } finally rd.close()
    }
    acc.iterator.map { case (f, b) =>
      val a = b.result()
      java.util.Arrays.sort(a)
      f -> a
    }.toMap
  }
}

/** The executor-wide sidecar cache every reader uses: at most 4 Mi
  * positions (32 MiB of longs). */
private[graft] object DvSidecar extends DvSidecarCache(4L << 20)
