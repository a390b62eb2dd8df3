package graft.storage

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** 64x64 grid over a composite key (a, b), written hash-scattered so
    * every file spans nearly the whole range on BOTH columns. */
  private def grid(dir: String): CowTable = {
    val t = CowTable(spark, dir + "/t",
      TableConfig("t", Seq("a", "b")))
    t.create((0L until 4096L).map(i => (i % 64, i / 64, s"v$i"))
      .toDF("a", "b", "payload").repartition(8))
    t
  }

  /** Files whose stats admit the composite probe (a=pa AND b=pb). */
  private def touchable(m: CommitManifest, pa: Long, pb: Long): Seq[FileEntry] =
    CowTable.filesContainingAny(m, Seq(pa), colIdx = 0)
      .intersect(CowTable.filesContainingAny(m, Seq(pb), colIdx = 1))

  test("optimize tightens both key columns' file stats at once") {
    val dir = tmpDir("zorder")
    val t = grid(dir)
    val before = t.manifest(t.currentVersion)
    assert(before.files.size == 8)
    // hash-scattered: the probe is admitted by every file
    assert(touchable(before, 5L, 5L).size == 8)

    val v = t.optimize(Seq("a", "b"))
    val after = t.manifest(v)
    assert(after.files.size == 8, after.files.map(_.path))
    val hits = touchable(after, 5L, 5L)
    assert(hits.size <= 3,
      s"z-order left ${hits.size}/8 files admitting a point probe: " +
        after.files.map(e => (e.minKey, e.maxKey, e.minKey2, e.maxKey2)))
  }

  test("optimize preserves content exactly and is dataChange=false") {
    val dir = tmpDir("zorder")
    val t = grid(dir)
    val before = t.read().as[(Long, Long, String)].collect().toSet
    val v = t.optimize(Seq("a", "b"))
    assert(t.read().as[(Long, Long, String)].collect().toSet == before)
    assert(!t.manifest(v).dataChange)
    // the change feed skips a reorganization commit entirely
    assert(t.readChangeFeed(v - 1, v).isEmpty)
  }

  test("optimize sharpens composite-key merges (fewer files rewritten)") {
    val dir = tmpDir("zorder")
    val t = grid(dir)
    t.optimize(Seq("a", "b"))
    val before = t.manifest(t.currentVersion).files.map(_.path).toSet
    val src = Seq((5L, 5L, "updated")).toDF("a", "b", "payload")
    // the pruner's own answer: the rewrite alone touches only the marked
    // file, whatever the pruner kept
    val touched = KeyPrune.touched(t.manifest(t.currentVersion), t.root, src)
      .get._1.size
    assert(touched <= 3, s"composite point upsert touched $touched/8 files")
    t.upsert(src)
    val after = t.manifest(t.currentVersion).files.map(_.path).toSet
    val carried = before intersect after
    assert(carried.size >= 5,
      s"composite point upsert carried only ${carried.size}/8 files")
    val got = t.read().filter($"a" === 5L && $"b" === 5L)
      .select("payload").as[String].head()
    assert(got == "updated")
    assert(t.read().count() == 4096L)
  }

  test("wide clusterBy lists coarsen instead of wrapping the sign bit") {
    // 9 columns × 8 bits would put bits at positions ≥ 63 (Java shifts are
    // mod-64): zvalue must coarsen per-column resolution, keeping z-values
    // non-negative and order-preserving
    val df = (0L until 256L).map(Tuple1(_)).toDF("r")
    val z = df.select($"r", ZOrder.zvalue(Seq.fill(9)(col("r"))).as("z"))
      .as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    assert(z.forall(_ >= 0L), z.filter(_ < 0L).take(3).mkString(","))
    assert(z.sliding(2).forall(p => p(0) <= p(1)), "non-monotone z")
    assert(z.distinct.length >= 64, s"over-coarsened: ${z.distinct.length}")
  }

  test("string cluster columns z-order via one-pass sampled range ids") {
    // the reference's natural clustering key is the string `category`
    // (cdk.json:71) — string columns must cluster, not reject
    val dir = tmpDir("zorder")
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("cat", "id")))
    val cats = (0 until 64).map(i => f"cat$i%03d")
    t.create((0L until 4096L).map(i => (cats((i % 64).toInt), i, s"v$i"))
      .toDF("cat", "id", "payload").repartition(8))
    val before = t.manifest(t.currentVersion)
    // hash-scattered: every file's [min,max] admits any category probe
    assert(CowTable.filesContainingAny(before, Seq("cat031"), 0).size == 8)
    val v = t.optimize(Seq("cat", "id"))
    val after = t.manifest(v)
    assert(after.files.size == 8, after.files.map(_.path))
    // a 2-column interleave constrains each file to ~half the cat space;
    // probe four spread categories: none may hit all files, and the mean
    // must clearly beat the unclustered 8/8
    val probes = Seq("cat005", "cat021", "cat037", "cat053")
      .map(c => CowTable.filesContainingAny(after, Seq(c), 0).size)
    assert(probes.forall(_ <= 6) && probes.sum <= 20,
      s"string z-order probes hit $probes of 8 files: " +
        after.files.map(e => (e.minKey, e.maxKey)))
    // reorganization preserves content exactly
    assert(t.read().as[(String, Long, String)].collect().toSet ==
      (0L until 4096L).map(i => (cats((i % 64).toInt), i, s"v$i")).toSet)
    assert(!after.dataChange)
  }

  test("unsupported cluster column types are rejected loudly") {
    val dir = tmpDir("zorder")
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("id")))
    t.create(Seq((1L, true), (2L, false)).toDF("id", "flag"))
    val e = intercept[IllegalArgumentException] {
      t.optimize(Seq("flag"))
    }
    assert(e.getMessage.contains("boolean"), e.getMessage)
  }

  test("hive-partitioned tables keep their layout, curve-ordered within") {
    val dir = tmpDir("zorder")
    val t = CowTable(spark, dir + "/t",
      TableConfig("t", Seq("a", "b"), partitionKey = Some("seg")))
    t.create((0L until 1000L).map(i => (i % 10, i / 10, if (i % 2 == 0) "X" else "Y"))
      .toDF("a", "b", "seg").repartition(4))
    val v = t.optimize(Seq("a", "b"))
    val m = t.manifest(v)
    assert(m.files.forall(e => e.path.contains("seg=")), m.files.map(_.path))
    assert(t.read().count() == 1000L)
  }

  test("partition-scoped optimize rewrites ONE partition, carries the rest") {
    val dir = tmpDir("zorder")
    val t = CowTable(spark, dir + "/t",
      TableConfig("t", Seq("a", "b"), partitionKey = Some("seg")))
    t.create((0L until 1000L).map(i => (i % 10, i / 10, if (i % 2 == 0) "X" else "Y"))
      .toDF("a", "b", "seg").repartition(4))
    val before = t.manifest(t.currentVersion)
    val yBefore = before.files.filter(_.path.contains("seg=Y")).map(_.path)
    val v = t.optimize(Seq("a", "b"), partitionValue = Some("X"))
    val m = t.manifest(v)
    // the cold partition's files carried over byte-identically
    assert(m.files.filter(_.path.contains("seg=Y")).map(_.path).sorted ==
      yBefore.sorted)
    // the hot partition was rewritten (new version-dir paths)
    val xAfter = m.files.filter(_.path.contains("seg=X")).map(_.path)
    assert(xAfter.nonEmpty && xAfter.forall(p =>
      !before.files.map(_.path).contains(p)), xAfter)
    // reorganization: same rows, dataChange=false
    assert(!m.dataChange)
    assert(t.read().count() == 1000L)
    assert(t.read().filter($"seg" === "X").count() == 500L)
    // scoping an unpartitioned table is rejected loudly
    val u = CowTable(spark, dir + "/u", TableConfig("u", Seq("a")))
    u.create(Seq((1L, "x")).toDF("a", "p"))
    assertThrows[IllegalArgumentException] {
      u.optimize(Seq("a"), partitionValue = Some("X"))
    }
  }

  test("OPTIMIZE is incremental: clustered files carry, new files rewrite") {
    val dir = tmpDir("zorder")
    val t = grid(dir)
    val v2 = t.optimize(Seq("a", "b"))
    val m2 = t.manifest(v2)
    assert(m2.files.forall(_.zorderBy.contains("a,b")), "outputs tagged")

    // a second identical OPTIMIZE is a METADATA no-op: zero files rewritten
    assert(t.optimize(Seq("a", "b")) == v2)

    // churn: an upsert rewrites some files (their outputs lose the tag)
    t.upsert(Seq((5L, 5L, "NEW")).toDF("a", "b", "payload"))
    val m3 = t.manifest(t.currentVersion)
    val untagged = m3.files.filterNot(_.zorderBy.contains("a,b"))
    assert(untagged.nonEmpty, "merge outputs must re-enter clustering")
    val stillTagged = m3.files.filter(_.zorderBy.contains("a,b")).map(_.path)

    // incremental OPTIMIZE rewrites ONLY the untagged files
    val v4 = t.optimize(Seq("a", "b"))
    val m4 = t.manifest(v4)
    assert(stillTagged.forall(p => m4.files.exists(_.path == p)),
      "already-clustered files carried byte-identically")
    assert(m4.files.forall(_.zorderBy.contains("a,b")))
    assert(t.read().count() == 4096L)
    assert(t.read().filter($"a" === 5L && $"b" === 5L)
      .as[(Long, Long, String)].head()._3 == "NEW")

    // a DIFFERENT signature does not reuse the old tag
    val v5 = t.optimize(Seq("a"))
    assert(v5 > v4)
    assert(t.manifest(v5).files.forall(_.zorderBy.contains("a")))

    // full=true forces a whole re-cluster even when everything is tagged
    val v6 = t.optimize(Seq("a"), full = true)
    assert(v6 > v5)
  }
}
