package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.storage.{CowTable, TableConfig}
import org.apache.spark.sql.DataFrame

/** The executor-wide deletion-vector sidecar cache ([[DvSidecar]]): warm
  * reads equal cold reads across every operation that writes or drops a
  * sidecar, a re-created table never reads a stale entry, the cache holds
  * its position bound, each sidecar decodes once, and a missing sidecar
  * fails the read instead of resurrecting deleted rows. */
class DvSidecarSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Seq[Long], tag: String): DataFrame =
    ids.map(i => (i, s"$tag$i", i * 1.5)).toDF("id", "name", "v")

  private def dvTable(): (CowTable, String) = {
    val root = tmpDir("dvcache") + "/t"
    (CowTable(spark, root, TableConfig("t", Seq("id"),
      changeDataFeed = true, deletionVectors = true)), root)
  }

  /** (id, name) of the graft scan at `version` (latest when None), in the
    * columnar or the row reader. */
  private def scan(root: String, columnar: Boolean,
      version: Option[Int] = None): Seq[(Long, String)] = {
    val r = spark.read.format("graft").option("columnar", columnar.toString)
    version.fold(r)(v => r.option("versionAsOf", v.toLong)).load(root)
      .select("id", "name").as[(Long, String)].collect().toSeq.sorted
  }

  /** Cold read (empty cache), then a warm read, in both reader modes: all
    * four agree and equal `expected`. */
  private def coldEqualsWarm(root: String, expected: Map[Long, String],
      version: Option[Int] = None): Unit = {
    val want = expected.toSeq.sorted
    Seq(true, false).foreach { columnar =>
      DvSidecar.clear()
      val cold = scan(root, columnar, version)
      val warm = scan(root, columnar, version)
      assert(cold == want, s"cold read (columnar=$columnar, v=$version)")
      assert(warm == cold, s"warm read (columnar=$columnar, v=$version)")
    }
  }

  test("warm-cache reads equal cold reads across upsert, delete, purge, " +
    "rollback and the two-commit CDC batch") {
    val (t, root) = dvTable()
    var model = (1L to 200L).map(i => i -> s"a$i").toMap
    t.create(rows(1L to 200L, "a").repartition(4))

    t.delete(Seq(3L, 60L, 111L, 199L).toDF("id"))
    model --= Seq(3L, 60L, 111L, 199L)
    coldEqualsWarm(root, model)
    val afterDelete = t.currentVersion
    val atDelete = model

    t.upsert(rows(Seq(5L, 70L, 150L, 201L), "u"))
    model ++= Seq(5L, 70L, 150L, 201L).map(i => i -> s"u$i")
    coldEqualsWarm(root, model)

    t.upsertThenDelete(Some(rows(Seq(6L, 80L, 202L), "c")),
      Some(Seq(7L, 90L, 5L).toDF("id")), oneRowPerKey = true)
    model ++= Seq(6L, 80L, 202L).map(i => i -> s"c$i")
    model --= Seq(7L, 90L, 5L)
    coldEqualsWarm(root, model)
    assert(t.manifest(t.currentVersion).files.exists(_.dvPath.isDefined))

    // time travel to an older sidecar, warm from the reads above
    coldEqualsWarm(root, atDelete, Some(afterDelete))

    t.purgeDeletionVectors()
    assert(t.manifest(t.currentVersion).files.forall(_.dvPath.isEmpty))
    coldEqualsWarm(root, model)

    t.rollbackTo(afterDelete)
    coldEqualsWarm(root, atDelete)
  }

  test("a table deleted and re-created at the same root reads correctly") {
    val (t, root) = dvTable()
    t.create(rows(1L to 50L, "a").coalesce(1))
    t.delete(Seq(10L, 20L).toDF("id"))
    assert(scan(root, columnar = true).map(_._1) ==
      (1L to 50L).filterNot(Set(10L, 20L)))

    CowTable.deleteRecursively(Paths.get(root))
    val t2 = CowTable(spark, root, TableConfig("t", Seq("id"),
      changeDataFeed = true, deletionVectors = true))
    t2.create(rows(1L to 50L, "b").coalesce(1))
    t2.delete(Seq(30L, 40L).toDF("id"))
    val want = (1L to 50L).filterNot(Set(30L, 40L)).map(i => i -> s"b$i")
    // the cache still holds the first table's sidecar; neither reader mode
    // may see its positions
    assert(scan(root, columnar = true) == want)
    assert(scan(root, columnar = false) == want)
  }

  /** A hand-made sidecar dir of (path, pos) rows. */
  private def sidecar(entries: Seq[(String, Long)]): String = {
    val dir = tmpDir("sidecar") + "/dv"
    entries.toDF("path", "pos").coalesce(1).write.parquet(dir)
    dir
  }

  test("the cache evicts least-recently-used sidecars at its position " +
    "bound") {
    val cache = new DvSidecarCache(maxPositions = 10)
    val a = sidecar((1L to 6L).map(p => ("f1", p)))
    val b = sidecar((1L to 3L).map(p => ("f1", p)) ++
      (4L to 6L).map(p => ("f2", p)))
    val big = sidecar((1L to 12L).map(p => ("f1", p)))

    assert(cache.positions(a, "f1").toSeq == (1L to 6L))
    assert(cache.heldPositions == 6 && cache.decodes == 1)
    assert(cache.positions(a, "f9").isEmpty) // warm: no second decode
    assert(cache.decodes == 1)

    // 6 + 6 > 10: the older sidecar goes
    assert(cache.positions(b, "f2").toSeq == (4L to 6L))
    assert(cache.heldPositions == 6 && cache.decodes == 2)
    assert(cache.positions(a, "f1").toSeq == (1L to 6L))
    assert(cache.decodes == 3 && cache.heldPositions == 6)

    // larger than the bound on its own: decoded, answered, not kept
    assert(cache.positions(big, "f1").toSeq == (1L to 12L))
    assert(cache.heldPositions == 0)
    assert(cache.positions(big, "f1").length == 12)
    assert(cache.decodes == 5)
  }

  test("one decode per sidecar across repeated scans of many vectored " +
    "files") {
    val (t, root) = dvTable()
    t.create(rows(1L to 400L, "a").repartition(8))
    t.delete((1L to 400L by 37).toDF("id"))
    val m = t.manifest(t.currentVersion)
    val vectored = m.files.count(_.dvPath.isDefined)
    assert(vectored > 1 && m.files.flatMap(_.dvPath).distinct.size == 1)
    DvSidecar.clear()
    val want = (1L to 400L).filterNot(i => (i - 1) % 37 == 0)
    (1 to 3).foreach { _ =>
      assert(scan(root, columnar = true).map(_._1) == want)
      assert(scan(root, columnar = false).map(_._1) == want)
    }
    assert(DvSidecar.decodes == 1)
  }

  test("a missing sidecar fails the read loudly and is not cached") {
    val (t, root) = dvTable()
    t.create(rows(1L to 40L, "a").coalesce(1))
    t.delete(Seq(4L, 8L).toDF("id"))
    val dvRel = t.manifest(t.currentVersion).files.flatMap(_.dvPath).head
    val dvDir = Paths.get(root).resolve(dvRel)
    val aside = Paths.get(root).resolveSibling("dv-aside")
    DvSidecar.clear()
    Files.move(dvDir, aside)
    Seq(true, false).foreach { columnar =>
      val e = intercept[Exception](scan(root, columnar))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains(
          "deletion-vector sidecar")), e)
    }
    assert(DvSidecar.heldPositions == 0 && DvSidecar.decodes == 0)
    Files.move(aside, dvDir)
    assert(scan(root, columnar = true).map(_._1) ==
      (1L to 40L).filterNot(Set(4L, 8L)))
  }
}
