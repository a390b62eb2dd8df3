package graft.storage

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The order-preserving stat encoding and the predicate-pruned checkpoint
  * read (round 18, Iceberg manifest-list analog). Soundness bar: a pruned
  * read must return EVERY entry the driver-side per-entry prune would
  * keep — block skipping may only drop provably-non-matching entries. */
class CkptPredSpec extends AnyFunSuite {

  private def ord(s: String): String = StatOrd.encodeNumeric(s).get
  private def byteLeq(a: String, b: String): Boolean =
    StatOrd.byteCompare(StatOrd.bytes(a), StatOrd.bytes(b)) <= 0

  test("StatOrd.encodeNumeric is order-preserving over BigDecimal space") {
    val rnd = new scala.util.Random(181818L)
    def randBd(): BigDecimal = rnd.nextInt(6) match {
      case 0 => BigDecimal(rnd.nextInt(2000) - 1000) // small ints, ties
      case 1 => BigDecimal(rnd.nextLong())
      case 2 => BigDecimal(BigInt(rnd.nextLong()), rnd.nextInt(20))
      case 3 => BigDecimal(BigInt(rnd.nextLong()), -rnd.nextInt(10))
      case 4 => BigDecimal(rnd.nextDouble() * math.pow(10, rnd.nextInt(30)))
      case _ => BigDecimal(0) - BigDecimal(BigInt(rnd.nextLong()),
        rnd.nextInt(20))
    }
    (1 to 20000).foreach { _ =>
      val a = randBd()
      val b = randBd()
      val (ea, eb) = (ord(a.toString), ord(b.toString))
      if (a < b) assert(byteLeq(ea, eb), s"$a < $b but $ea > $eb")
      if (a > b) assert(byteLeq(eb, ea), s"$a > $b but $eb > $ea")
      // equal values (incl. different scales of the same number) tie
      if (a == b) assert(ea == eb, s"$a == $b but $ea != $eb")
    }
  }

  test("StatOrd edge values: zero signs, scientific notation, huge/rejected") {
    assert(ord("0") == ord("-0.0")) // BigDecimal -0 == 0
    assert(ord("0.000") == ord("0"))
    assert(byteLeq(ord("-1e300"), ord("-5")))
    assert(byteLeq(ord("9.99e307"), ord("1e308")))
    assert(byteLeq(ord("1.5E10"), ord("1.6E10")))
    // beyond double range: collapses to ±Inf — monotone, never wrong-order
    assert(byteLeq(ord("1e308"), ord("1e400")))
    assert(byteLeq(ord("-1e400"), ord("-1e308")))
    assert(StatOrd.encodeNumeric("NaN").isEmpty)
    assert(StatOrd.encodeNumeric("Infinity").isEmpty)
    assert(StatOrd.encodeNumeric("not-a-number").isEmpty)
  }

  private def entry(i: Int, part: String, lo: Long, hi: Long): FileEntry =
    FileEntry(path = f"v00001-t/cat=$part/part-$i%05d.parquet",
      rows = 100, minKey = Some(lo.toString), maxKey = Some(hi.toString),
      bytes = 1L << 20)

  /** 4096 entries over 8 partitions, keys ascending, TINY row groups so
    * block selection has something to skip. */
  private def writeFixture(dir: java.nio.file.Path)
      : (java.nio.file.Path, Long, Seq[FileEntry]) = {
    val files = (0 until 4096).map(i =>
      entry(i, s"p${i % 8}", i * 100L, i * 100L + 99L))
    val target = dir.resolve("ck.files.parquet")
    val crc = ManifestCheckpoint.write(target, files,
      partitionKey = Some("cat"), keyNumeric = true, rowGroupBytes = 16 * 1024)
    (target, crc, files)
  }

  test("readPruned: partition predicate decodes a strict subset, keeps " +
      "every matching entry; full read round-trips content") {
    val dir = Files.createTempDirectory("ckpred")
    val (target, crc, files) = writeFixture(dir)
    assert(ManifestCheckpoint.read(target, crc).sortBy(_.path) ==
      files.sortBy(_.path))
    val pruned = ManifestCheckpoint.readPruned(
      target, crc, CkptPred(partIn = Some(Set("p3"))))
    val matching = files.filter(_.path.contains("cat=p3/"))
    assert(matching.forall(pruned.contains), "a matching entry was dropped")
    assert(pruned.size < files.size, "block selection must actually skip")
    // every decoded entry is a REAL entry (ranged reads never corrupt)
    val all = files.toSet
    assert(pruned.forall(all.contains))
  }

  test("readPruned: key-range predicate keeps every overlapping entry") {
    val dir = Files.createTempDirectory("ckpred")
    val (target, crc, files) = writeFixture(dir)
    val pred = CkptPred(
      keyLoOrd = StatOrd.encodeNumeric("200000"),
      keyHiOrd = StatOrd.encodeNumeric("205000"))
    val pruned = ManifestCheckpoint.readPruned(target, crc, pred)
    val matching = files.filter(e =>
      e.maxKey.get.toLong >= 200000L && e.minKey.get.toLong <= 205000L)
    assert(matching.nonEmpty && matching.forall(pruned.contains))
    assert(pruned.size < files.size)
  }

  test("readPruned: stat-less and flat-layout entries always survive") {
    val dir = Files.createTempDirectory("ckpred")
    val statless = FileEntry(path = "v00001-t/part-nostat.parquet",
      rows = 10, minKey = None, maxKey = None, bytes = 1024)
    val nanKey = FileEntry(path = "v00001-t/cat=p0/part-nan.parquet",
      rows = 10, minKey = Some("NaN"), maxKey = Some("NaN"), bytes = 1024)
    val files = (0 until 2048).map(i =>
      entry(i, s"p${i % 4}", i * 100L, i * 100L + 99L)) :+
      statless :+ nanKey
    val target = dir.resolve("ck2.files.parquet")
    val crc = ManifestCheckpoint.write(target, files,
      partitionKey = Some("cat"), keyNumeric = true, rowGroupBytes = 16 * 1024)
    // a predicate that matches nothing numerically still keeps both
    val pruned = ManifestCheckpoint.readPruned(target, crc, CkptPred(
      partIn = Some(Set("p2")),
      keyLoOrd = StatOrd.encodeNumeric("999999999"),
      keyHiOrd = StatOrd.encodeNumeric("9999999999")))
    assert(pruned.contains(statless), "flat-layout entry must survive")
    assert(pruned.contains(nanKey), "NaN-stat entry must survive key pruning")
  }

  test("readPruned on a pre-r18 checkpoint (no index columns) reads full") {
    val dir = Files.createTempDirectory("ckpred")
    // old layout ≈ no partition/ord columns: write with no partition key
    // and non-numeric flag over string keys, then prune on partitions —
    // part column is all-null ⇒ every block keeps
    val files = (0 until 512).map(i =>
      FileEntry(path = f"v1-t/part-$i%04d.parquet", rows = 1,
        minKey = Some(s"k$i"), maxKey = Some(s"k$i"), bytes = 10))
    val target = dir.resolve("ck3.files.parquet")
    val crc = ManifestCheckpoint.write(target, files, partitionKey = None,
      keyNumeric = false, rowGroupBytes = 8 * 1024)
    val pruned = ManifestCheckpoint.readPruned(
      target, crc, CkptPred(partIn = Some(Set("whatever"))))
    assert(pruned.sortBy(_.path) == files.sortBy(_.path))
  }

  test("CkptPred.fromScan: conjunct bounds intersect; non-ASCII degrades") {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.types._
    // a truncate(10, s) table keyed on a LONG id: the partition range comes
    // from source-column bounds, the value set and null check from the
    // generated column
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("s_truncate", StringType)))
    val m = CommitManifest(version = 1, parent = 0, schemaJson = schema.json,
      primaryKey = Seq("id"), partitionKey = Some("s_truncate"),
      keyNumeric = true, rowCount = 0L, files = Nil,
      partitionSpec = Some("truncate(10,s)"))
    val p = graft.sources.FilePredicate(m, schema, Seq(
      GreaterThan("id", 5L),
      And(GreaterThanOrEqual("id", 9L), LessThanOrEqual("id", 100L)),
      LessThanOrEqual("id", 50L),
      EqualTo("s_truncate", "a"),
      GreaterThanOrEqual("s", "2024-01-01"), LessThanOrEqual("s", "café"),
      IsNotNull("s_truncate"))).ckptPred
    assert(p.partIn.contains(Set("a")))
    assert(p.partLo.contains("2024-01-01"))
    assert(p.partHi.isEmpty, "non-ASCII bound must not participate")
    assert(p.dropNullPart)
    assert(p.keyLoOrd.contains(ord("9"))) // max of the lower bounds
    assert(p.keyHiOrd.contains(ord("50"))) // min of the upper bounds
    assert(CkptPred().isEmpty && !p.isEmpty)
  }
}
