package graft

import graft.storage.{ColRange, FileEntry, ManifestCheckpoint}

/** Cold-read cost of the parquet manifest checkpoint at 10⁵ files:
  * synthesize a FileEntry list with realistic stats (key bounds, one
  * statsColumn range, null counts, an NDV sketch on every 8th file), write
  * it as a checkpoint sidecar, then time COLD loads (min of 3) of the full
  * list, a one-partition pruned read and a key-range pruned read, checking
  * each round-trip, and report bytes. No Spark session — the driver-side
  * planning cost is pure JVM work, which is exactly the point.
  *
  * Run manually (NOT part of the driver contract):
  * {{{ sbt "runMain graft.ManifestProbe /tmp/manifestprobe" }}}
  */
object ManifestProbe {
  private def time[T](f: => T): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val out = java.nio.file.Paths.get(
      args.headOption.getOrElse("/tmp/manifestprobe"))
    java.nio.file.Files.createDirectories(out)
    val n = 100000
    val files = (0 until n).map { i =>
      FileEntry(
        path = f"v${i / 64}%05d-0000/cat=c${i % 32}%02d/part-$i%06d.parquet",
        rows = 100000L + i,
        minKey = Some((i * 1000L).toString),
        maxKey = Some((i * 1000L + 999L).toString),
        minKey2 = Some("1"), maxKey2 = Some("7"),
        bytes = 128L << 20,
        extra = Map("c_acctbal" ->
          ColRange(Some(s"-$i.55"), Some(s"${i * 2}.25"))),
        nulls = Map("c_acctbal" -> (i % 17).toLong),
        ndv = if (i % 8 == 0)
          Map("c_name" -> (0 until 64).map(j => i * 1000L + j))
        else Map.empty)
    }
    val pqPath = out.resolve("full.files.parquet")
    java.nio.file.Files.deleteIfExists(pqPath)
    val crc = ManifestCheckpoint.write(pqPath, files,
      partitionKey = Some("cat"), keyNumeric = true)

    def best(f: => Int): Double = (1 to 3).map(_ => time(f)).min
    val tPq = best(ManifestCheckpoint.read(pqPath, crc).size)
    // the checkpoint is SORTED by (partition, keyMin) — content equality
    require(ManifestCheckpoint.read(pqPath, crc).sortBy(_.path) ==
      files.sortBy(_.path), "round-trip drift")
    // PRUNED COLD PLAN (round 18, Iceberg manifest-list analog): a
    // one-partition predicate selects checkpoint row groups from footer
    // stats — only matching entries decode
    val partPred = graft.storage.CkptPred(partIn = Some(Set("c07")))
    val partEntries = ManifestCheckpoint.readPruned(pqPath, crc, partPred)
    require(partEntries.count(_.path.contains("cat=c07/")) == n / 32 &&
      partEntries.forall(e =>
        files.sortBy(_.path).contains(e)), "pruned part read drift")
    val tPart = best(ManifestCheckpoint.readPruned(pqPath, crc, partPred).size)
    // a leading-key range predicate (keys ascend with i: [i*1000, i*1000+999])
    // — probed on an UNPARTITIONED checkpoint (sort is partition-major, so
    // a partitioned table's key pruning is per-partition; key-clustered
    // unpartitioned tables are where pure key bounds shine)
    val pqKeyPath = out.resolve("full_keys.files.parquet")
    java.nio.file.Files.deleteIfExists(pqKeyPath)
    val crcKey = ManifestCheckpoint.write(pqKeyPath, files,
      partitionKey = None, keyNumeric = true)
    val keyPred = graft.storage.CkptPred(
      keyLoOrd = graft.storage.StatOrd.encodeNumeric("41000000"),
      keyHiOrd = graft.storage.StatOrd.encodeNumeric("41999999"))
    val keyEntries =
      ManifestCheckpoint.readPruned(pqKeyPath, crcKey, keyPred)
    require((41000 to 41999).forall(i =>
      keyEntries.exists(_.path.endsWith(f"part-$i%06d.parquet"))),
      "pruned key read lost matching entries")
    val tKey =
      best(ManifestCheckpoint.readPruned(pqKeyPath, crcKey, keyPred).size)
    println(s"""{"probe":"manifest_checkpoint","files":$n,""" +
      s""""parquet_bytes":${java.nio.file.Files.size(pqPath)},""" +
      s""""parquet_cold_sec":${f"$tPq%.3f"},""" +
      s""""pruned_part_entries":${partEntries.size},""" +
      s""""pruned_part_cold_sec":${f"$tPart%.3f"},""" +
      s""""pruned_key_entries":${keyEntries.size},""" +
      s""""pruned_key_cold_sec":${f"$tKey%.3f"}}""")
  }
}
