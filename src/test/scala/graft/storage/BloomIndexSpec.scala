package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BloomIndexSpec extends SparkSpec {
  import spark.implicits._

  private def cfg = TableConfig("t", Seq("id"), bloomIndex = true)

  /** How many current files [[KeyPrune.touched]] reads for `keys` — an
    * upsert rewrites only the touched files holding a matched key, so its
    * rewrites alone cannot show what the bloom pruned. */
  private def touchedBy(t: CowTable, keys: org.apache.spark.sql.DataFrame) =
    KeyPrune.touched(t.manifest(t.currentVersion), t.root, keys).get._1.size

  /** Two range-OVERLAPPING files: v1 holds odd keys 1..99, v2 adds even
    * keys 2..100 — both span ~[1,100], so min/max pruning alone always
    * touches both. */
  private def overlappingTable(dir: String): CowTable = {
    val t = CowTable(spark, dir + "/t", cfg)
    t.create((1L to 99L by 2).map(i => (i, s"odd$i")).toDF("id", "name"))
    t.upsert((2L to 100L by 2).map(i => (i, s"even$i")).toDF("id", "name"))
    t
  }

  test("commits write one .bloom sidecar per data file") {
    val dir = tmpDir("bloom")
    val t = overlappingTable(dir)
    val m = t.manifest(t.currentVersion)
    m.files.foreach { e =>
      val side = java.nio.file.Paths.get(dir + "/t").resolve(e.path + ".bloom")
      assert(java.nio.file.Files.isRegularFile(side), s"missing $side")
    }
  }

  test("point-key upsert carries range-overlapping files the bloom rules out") {
    val dir = tmpDir("bloom")
    val t = overlappingTable(dir)
    val before = t.manifest(t.currentVersion).files.map(_.path).toSet
    assert(before.size >= 2)
    // update one EVEN key: ranges admit both files; blooms admit only v2's
    assert(touchedBy(t, Seq(42L).toDF("id")) == 1)
    t.upsert(Seq((42L, "updated")).toDF("id", "name"))
    val after = t.manifest(t.currentVersion).files.map(_.path).toSet
    val carried = before intersect after
    // every odd-keys file survived untouched (bloom said "cannot contain 42")
    assert(carried.nonEmpty, s"nothing carried: before=$before after=$after")
    assert(carried.exists(_.contains("v00001")),
      s"v1 odd-file was rewritten despite bloom: carried=$carried")
    // and the merge is still exactly right
    val got = t.read().as[(Long, String)].collect().toMap
    assert(got(42L) == "updated" && got(41L) == "odd41" && got(44L) == "even44")
    assert(got.size == 100)
  }

  test("without bloomIndex the same upsert touches both files") {
    val dir = tmpDir("bloom")
    val t = CowTable(spark, dir + "/t",
      TableConfig("t", Seq("id"))) // no bloom
    t.create((1L to 99L by 2).map(i => (i, s"odd$i")).toDF("id", "name"))
    t.upsert((2L to 100L by 2).map(i => (i, s"even$i")).toDF("id", "name"))
    val before = t.manifest(t.currentVersion).files.map(_.path).toSet
    // range-only pruning cannot separate interleaved key spaces: every
    // file whose range holds 42 is touched, odd-key files included
    val inRange = t.manifest(t.currentVersion).files.filter(e =>
      e.minKey.get.toLong <= 42L && 42L <= e.maxKey.get.toLong)
    assert(inRange.exists(_.path.startsWith("v00001")))
    assert(touchedBy(t, Seq(42L).toDF("id")) == inRange.size)
    t.upsert(Seq((42L, "updated")).toDF("id", "name"))
    // the match scan still rewrites only the file that holds 42
    val after = t.manifest(t.currentVersion).files.map(_.path).toSet
    assert((before -- after).size == 1, s"carried=${before intersect after}")
    assert(t.read().as[(Long, String)].collect().toMap.apply(42L) == "updated")
  }

  test("missing sidecars degrade to touched (pre-index commits)") {
    val dir = tmpDir("bloom")
    // build WITHOUT the index, then enable it on the same table
    val plain = CowTable(spark, dir + "/t", TableConfig("t", Seq("id")))
    plain.create((1L to 99L by 2).map(i => (i, s"odd$i")).toDF("id", "name"))
    val t = CowTable(spark, dir + "/t", cfg)
    t.upsert(Seq((3L, "updated")).toDF("id", "name"))
    val got = t.read().as[(Long, String)].collect().toMap
    assert(got(3L) == "updated" && got(5L) == "odd5" && got.size == 50)
  }

  test("string keys prune through the bloom too") {
    val dir = tmpDir("bloom")
    val t = CowTable(spark, dir + "/t",
      TableConfig("t", Seq("code"), bloomIndex = true))
    t.create(Seq(("ax", 1), ("mz", 2), ("zq", 3)).toDF("code", "n"))
    t.upsert(Seq(("ba", 4), ("nn", 5), ("yy", 6)).toDF("code", "n"))
    val before = t.manifest(t.currentVersion).files.map(_.path).toSet
    assert(touchedBy(t, Seq("nn").toDF("code")) == 1)
    t.upsert(Seq(("nn", 50)).toDF("code", "n"))
    val after = t.manifest(t.currentVersion).files.map(_.path).toSet
    assert((before intersect after).exists(_.contains("v00001")))
    assert(t.read().as[(String, Int)].collect().toMap.apply("nn") == 50)
  }

  test("compaction rebuilds sidecars for its rewritten files") {
    val dir = tmpDir("bloom")
    val t = overlappingTable(dir)
    val v = t.compact(smallBytes = 1L << 30)
    val m = t.manifest(v)
    m.files.foreach { e =>
      val side = java.nio.file.Paths.get(dir + "/t").resolve(e.path + ".bloom")
      assert(java.nio.file.Files.isRegularFile(side), s"missing $side")
    }
    // and the rebuilt bloom still prunes: compacted layout is one file, so
    // a point upsert must still merge correctly through it
    t.upsert(Seq((42L, "updated")).toDF("id", "name"))
    assert(t.read().count() == 100L)
  }

  test("vacuum removes sidecars with their data files") {
    val dir = tmpDir("bloom")
    val t = overlappingTable(dir)
    t.upsert(Seq((42L, "updated")).toDF("id", "name"))
    val root = java.nio.file.Paths.get(dir + "/t")
    val doomed = t.vacuum(retainLast = 1)
    assert(doomed.nonEmpty)
    doomed.foreach { p =>
      assert(!java.nio.file.Files.exists(root.resolve(p + ".bloom")),
        s"orphan sidecar for $p")
    }
  }
}
