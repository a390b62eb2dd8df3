package graft.storage

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Delta-encoded commit manifests (log + checkpoint): the raw stored JSON
  * of an incremental commit carries only changed entries, while manifestAt
  * folds to the exact full file list — metadata O(changed files) per
  * commit, the property that holds at 100k-file scale. */
class ManifestDeltaSpec extends SparkSpec {
  import spark.implicits._

  private def rawJson(dir: String, v: Int): String =
    Files.readString(
      Paths.get(dir).resolve("_manifests").resolve(f"v$v%05d.json"))

  private def pathCount(json: String): Int = "\"path\"".r.findAllIn(json).length

  private def df(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, s"n$i")).toDF("id", "name")

  test("incremental commits store deltas; folds reproduce the full list") {
    val dir = tmpDir("mdelta") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), clusterByKey = true))
    t.create(df(1L to 400L).repartition(4)) // v1: checkpoint, 4 files
    val raw1 = rawJson(dir, 1)
    assert(raw1.contains("filesParquet") && pathCount(raw1) == 0,
      s"v1 must externalize its file list to parquet:\n$raw1")
    t.upsert(df(Seq(7L))) // touches ONE clustered file
    val raw2 = rawJson(dir, 2)
    assert(raw2.contains("deltaRemoved"), s"expected a delta manifest:\n$raw2")
    assert(pathCount(raw2) <= 2, // the one rewritten file (± split)
      s"delta should carry only changed entries, got ${pathCount(raw2)}")
    // the folded view is the complete 4-file set with identical content
    assert(t.manifest(2).files.size == 4)
    assert(t.read().count() == 400)
    assert(t.read().filter($"id" === 7L).select("name").as[String]
      .collect().toSeq == Seq("n7"))
    // time travel across the delta chain stays exact
    assert(t.readVersion(1).filter($"id" === 7L).select("name").as[String]
      .collect().toSeq == Seq("n7"))
  }

  test("checkpoint every 8th version is a full manifest; chain stays exact") {
    val dir = tmpDir("mdelta") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), clusterByKey = true))
    t.create(df(1L to 400L).repartition(4))
    (2 to 10).foreach(v => t.upsert(df(Seq(v.toLong))))
    assert(t.currentVersion == 10)
    assert(!rawJson(dir, 8).contains("deltaRemoved"), "v8 must checkpoint")
    assert(rawJson(dir, 9).contains("deltaRemoved"))
    // every version folds to a complete, correct snapshot
    (1 to 10).foreach { v =>
      assert(t.readVersion(v).count() == 400, s"v$v row count")
    }
    assert(t.manifest(10).files.size >= 4)
    assert(t.manifest(10).deltaRemoved.isEmpty) // readers never see deltas
  }

  test("parquet checkpoints: a big full manifest externalizes its file " +
      "list; manifestAt round-trips bit-identically (incl. stats maps, DVs)") {
    val dir = tmpDir("mdelta") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      statsColumns = Seq("name"), changeDataFeed = true,
      deletionVectors = true, ndvSketch = true))
    t.create(df(1L to 300L).repartition(4)) // v1: checkpoint
    val raw1 = rawJson(dir, 1)
    assert(raw1.contains("filesParquet"),
      s"v1 must externalize to parquet:\n$raw1")
    assert(pathCount(raw1) <= 1, "file entries must leave the JSON")
    val sidecars = Files.list(Paths.get(dir).resolve("_manifests"))
    val names = try {
      sidecars.iterator().asScala.map(_.getFileName.toString).toSeq
    } finally sidecars.close()
    assert(names.exists(_.endsWith(".files.parquet")), names)
    // round-trip: every stat field survives the parquet encoding
    val m1 = t.manifest(1)
    assert(m1.filesParquet.isEmpty, "readers never see the pointer")
    assert(m1.files.size == 4)
    assert(m1.files.forall(e => e.minKey.isDefined && e.maxKey.isDefined))
    assert(m1.files.forall(_.extra.contains("name")))
    assert(m1.files.forall(_.nulls.nonEmpty))
    assert(m1.files.forall(_.ndv.nonEmpty))
    // DV'd commit folds over the parquet checkpoint exactly
    t.delete(Seq(7L, 8L).toDF("id"))
    assert(t.read().count() == 298)
    val m2 = t.manifest(2)
    assert(m2.files.exists(_.dvPath.isDefined))
    // a DV'd entry inside a LATER parquet checkpoint round-trips too
    (3 to 8).foreach(v => t.upsert(df(Seq(v.toLong * 1000))))
    assert(t.currentVersion == 8)
    val raw8 = rawJson(dir, 8)
    assert(raw8.contains("filesParquet"), "v8 checkpoint must be parquet")
    val m8 = t.manifest(8)
    assert(m8.files.exists(_.dvPath.isDefined))
    assert(t.read().count() == 304)
    assert(t.readVersion(1).count() == 300) // time travel across both
    // scans, pruning, CDF keep working over the encoded history
    assert(t.read().filter($"id" === 7L).count() == 0)
    assert(t.readChangeFeed(1, 2).count() == 2)
  }

  test("predicate-read ≡ full-read fold; cold pruned scan results exact") {
    val dir = tmpDir("mdelta") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      partitionKey = Some("cat")))
    def dfp(ids: Seq[Long]) = ids.map(i =>
      (i, s"n$i", s"c${i % 8}")).toDF("id", "name", "cat")
    t.create(dfp(1L to 800L)) // v1: parquet checkpoint, 8 partition dirs
    (2 to 4).foreach(v => t.upsert(dfp(Seq(v * 100L, v * 100L + 1))))
    val root = java.nio.file.Paths.get(dir)
    val v = t.currentVersion
    val full = CowTable.manifestAt(root, v).files
    // partition predicate: pruned ⊆ full, and ⊇ every matching entry
    val pp = CkptPred(partIn = Some(Set("c3")))
    val prunedP = CowTable.manifestFilesPruned(root, v, pp)
    assert(prunedP.toSet.subsetOf(full.toSet))
    assert(full.filter(_.path.contains("cat=c3/"))
      .forall(prunedP.contains))
    // key predicate over the delta chain
    val kp = CkptPred(keyLoOrd = StatOrd.encodeNumeric("100"),
      keyHiOrd = StatOrd.encodeNumeric("120"))
    val prunedK = CowTable.manifestFilesPruned(root, v, kp)
    assert(prunedK.toSet.subsetOf(full.toSet))
    assert(full.filter(e => (e.minKey, e.maxKey) match {
      case (Some(mn), Some(mx)) => mx.toLong >= 100L && mn.toLong <= 120L
      case _ => true
    }).forall(prunedK.contains))
    // END-TO-END: a COLD pruned DSv2 scan (cache evicted) returns
    // byte-identical results to the warm full-fold scan
    val warm = spark.read.format("graft").load(dir)
      .filter($"cat" === "c3").select("id", "name")
      .as[(Long, String)].collect().toSet
    CowTable.evictManifestCache()
    val cold = spark.read.format("graft").load(dir)
      .filter($"cat" === "c3").select("id", "name")
      .as[(Long, String)].collect().toSet
    assert(cold == warm && cold.nonEmpty)
    CowTable.evictManifestCache()
    val coldKey = spark.read.format("graft").load(dir)
      .filter($"id" >= 100L && $"id" <= 120L).count()
    assert(coldKey == 21L)
  }

  test("vacuum sweeps orphaned checkpoint sidecars; referenced ones live") {
    val dir = tmpDir("mdelta") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    t.create(df(1L to 100L).repartition(3)) // v1: parquet checkpoint
    t.upsert(df(1L to 100L)) // every file holds a matched key
    val mdir = Paths.get(dir).resolve("_manifests")
    val referenced = scala.util.Using.resource(Files.list(mdir))(
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".files.parquet")).toSeq)
    // v1 and v2 (the upsert rewrote every file, so v2 checkpoints too)
    assert(referenced.size == 2)
    // a CAS loser / crashed writer's litter: same version different
    // uuid, and a version with no manifest at all
    val orphan1 = mdir.resolve(
      "v00001-00000000-dead-beef-0000-000000000000.files.parquet")
    val orphan2 = mdir.resolve(
      "v00099-00000000-dead-beef-0000-000000000000.files.parquet")
    Files.writeString(orphan1, "junk")
    Files.writeString(orphan2, "junk")
    val swept = t.vacuum(retainLast = 10, orphanOlderThanMs = 0)
    assert(swept.contains("_manifests/" + orphan1.getFileName))
    assert(swept.contains("_manifests/" + orphan2.getFileName))
    assert(!Files.exists(orphan1) && !Files.exists(orphan2))
    // the referenced sidecars survive and the table still reads cold
    assert(referenced.forall(r => Files.exists(mdir.resolve(r))))
    CowTable.evictManifestCache()
    assert(t.read().count() == 100)
    // age guard: a FRESH orphan (in-flight writer) is NOT swept
    Files.writeString(orphan1, "junk")
    t.vacuum(retainLast = 10, orphanOlderThanMs = 3600 * 1000): Unit
    assert(Files.exists(orphan1))
  }

  test("rollback, vacuum, and history work across delta manifests") {
    val dir = tmpDir("mdelta") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    t.create(df(1L to 100L))
    t.upsert(df(Seq(5L)))
    t.upsert(df(Seq(6L)))
    t.rollbackTo(2)
    assert(t.currentVersion == 4)
    assert(t.read().count() == 100)
    assert(t.history().count() == 4)
    t.vacuum(retainLast = 1, orphanOlderThanMs = Long.MaxValue)
    assert(t.read().count() == 100)
  }

  test("a corrupted checkpoint sidecar fails every read loudly") {
    val dir = tmpDir("mdelta") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    t.create(df(1L to 640L).repartition(64)) // v1: 64-entry checkpoint
    val root = Paths.get(dir)
    val rel = """"filesParquet":"([^"]+)"""".r
      .findFirstMatchIn(rawJson(dir, 1)).get.group(1)
    val sidecar = root.resolve("_manifests").resolve(rel)
    val orig = Files.readAllBytes(sidecar)
    val pred = CkptPred(keyLoOrd = StatOrd.encodeNumeric("100"),
      keyHiOrd = StatOrd.encodeNumeric("120"))
    // every 37th byte plus the last one: data pages, footer, magic
    ((0 until orig.length by 37) :+ (orig.length - 1)).foreach { i =>
      val bad = orig.clone()
      bad(i) = (bad(i) ^ 0xff).toByte
      Files.write(sidecar, bad)
      CowTable.evictManifestCache()
      val full = intercept[java.io.IOException](CowTable.manifestAt(root, 1))
      assert(full.getMessage.contains("corrupt"), s"byte $i: $full")
      CowTable.evictManifestCache()
      val pruned = intercept[java.io.IOException](
        CowTable.manifestFilesPruned(root, 1, pred))
      assert(pruned.getMessage.contains("corrupt"), s"byte $i: $pruned")
    }
    Files.write(sidecar, orig)
    CowTable.evictManifestCache()
    assert(CowTable.manifestAt(root, 1).files.size == 64)
    assert(t.read().count() == 640)
  }

  test("a CAS loser's checkpoint sidecar never outlives it; vacuum " +
      "leaves _manifests/ free of litter") {
    val dir = tmpDir("mdelta") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    t.create(df(1L to 100L).repartition(2))
    (2 to 7).foreach(v => t.upsert(df(Seq(v * 1000L))))
    val stale = t.currentVersion
    val m = t.manifest(stale)
    val schema = CowTable.structFromJson(m.schemaJson)
    t.commitAt(stale, Nil, m.files, schema, dataChange = false) // v8 wins
    // the loser writes its own v8 checkpoint sidecar before the CAS fails
    intercept[ConcurrentWriteException] {
      t.commitAt(stale, Nil, m.files, schema, dataChange = false)
    }
    assert(ManifestDeltaSpec.manifestLitter(Paths.get(dir)).isEmpty)
    t.vacuum(retainLast = 10, orphanOlderThanMs = 0)
    assert(ManifestDeltaSpec.manifestLitter(Paths.get(dir)).isEmpty)
    CowTable.evictManifestCache()
    assert(t.read().count() == 106)
  }

  test("every stored manifest is a delta or a CRC-checked checkpoint " +
      "across a mixed history") {
    val lake = tmpDir("mdelta")
    val sess = spark.newSession()
    sess.conf.set("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
    sess.conf.set("spark.sql.catalog.lake.warehouse", lake)
    sess.sql("CREATE TABLE lake.default.e (id BIGINT, name STRING) " +
      "OPTIONS (primaryKey 'id')") // v1: an empty checkpoint
    assert(sess.table("lake.default.e").count() == 0)
    val dir = lake + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), changeDataFeed = true,
        deletionVectors = true))
    t.create(df(1L to 200L).repartition(4))
    t.upsert(df(Seq(7L, 500L)))
    t.delete(Seq(9L, 10L).toDF("id")) // deletion vector
    t.overwrite(df(1L to 120L).repartition(3))
    t.compact(targetPartitions = 1)
    t.rollbackTo(3)
    t.addColumn("extra", org.apache.spark.sql.types.LongType)
    assert(t.currentVersion == 7)
    Seq(lake + "/e", dir).foreach { d =>
      val mdir = Paths.get(d).resolve("_manifests")
      (1 to CowTable.currentVersionAt(Paths.get(d))).foreach { v =>
        val raw = rawJson(d, v)
        val j = org.json4s.jackson.JsonMethods.parse(raw)
        val ckpt = (j \ "filesParquet").toOption.map(_.values.toString)
        assert(ckpt.isDefined != raw.contains("\"deltaRemoved\""),
          s"$d v$v must be exactly one of checkpoint or delta:\n$raw")
        ckpt.foreach { rel =>
          val c = new java.util.zip.CRC32C()
          c.update(Files.readAllBytes(mdir.resolve(rel)))
          assert((j \ "filesParquetCrc32c").values == BigInt(c.getValue),
            s"$d v$v: recorded CRC32C does not match its sidecar")
        }
      }
      assert(ManifestDeltaSpec.manifestLitter(Paths.get(d)).isEmpty)
    }
    // the add-column commit changed no file: an empty delta
    assert(rawJson(dir, 7).contains("\"deltaRemoved\":[]"))
    assert(t.read().count() == 199)
  }

  test("a one-file table checkpoints every commit; time travel, change " +
      "feed and history stay exact") {
    val dir = tmpDir("mdelta") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    t.create(df(1L to 5L).coalesce(1))
    t.upsert(Seq((3L, "x3")).toDF("id", "name"))
    t.delete(Seq(2L).toDF("id"))
    t.upsert(Seq((5L, "x5"), (1L, "x1")).toDF("id", "name"))
    val states: Seq[Map[Long, String]] = {
      val v1 = (1L to 5L).map(i => i -> s"n$i").toMap
      val v2 = v1 + (3L -> "x3")
      val v3 = v2 - 2L
      val v4 = v3 + (5L -> "x5") + (1L -> "x1")
      Seq(v1, v2, v3, v4)
    }
    assert(t.currentVersion == 4)
    (1 to 4).foreach { v =>
      val raw = rawJson(dir, v)
      assert(raw.contains("filesParquet") && !raw.contains("deltaRemoved"),
        s"v$v must be a checkpoint:\n$raw")
      assert(t.manifest(v).files.size == 1)
    }
    CowTable.evictManifestCache()
    (1 to 4).foreach { v =>
      val got = t.readVersion(v).select("id", "name").as[(Long, String)]
        .collect().toMap
      assert(got == states(v - 1), s"time travel to v$v")
    }
    // the single file is rewritten each commit, so the file-level feed
    // re-reports every row: deletes, inserts, and paired update images
    (2 to 4).foreach { v =>
      val (before, after) = (states(v - 2), states(v - 1))
      val expected =
        (before.keySet ++ after.keySet).toSeq.flatMap { k =>
          (before.get(k), after.get(k)) match {
            case (Some(a), Some(b)) =>
              Seq((k, a, "update_preimage"), (k, b, "update_postimage"))
            case (Some(a), None) => Seq((k, a, "delete"))
            case (None, Some(b)) => Seq((k, b, "insert"))
            case _ => Nil
          }
        }.toSet
      val feed = t.readChangeFeed(v - 1, v)
        .select("id", "name", "_change_type").as[(Long, String, String)]
        .collect()
      assert(feed.length == expected.size && feed.toSet == expected,
        s"change feed of v$v")
    }
    val hist = t.history()
      .select("version", "parent", "row_count", "n_files", "data_change")
      .as[(Int, Int, Long, Long, Boolean)].collect().toSeq.sortBy(_._1)
    assert(hist == (1 to 4).map(v =>
      (v, v - 1, states(v - 1).size.toLong, 1L, true)))
  }
}

object ManifestDeltaSpec {

  /** Entries of `root`'s `_manifests/` that are none of: a committed
    * `vNNNNN.json`, `_current`, `_vacuumed`, `_tags`, or a checkpoint
    * sidecar a committed manifest names. */
  def manifestLitter(root: Path): Seq[String] = {
    val dir = root.resolve("_manifests")
    val names = scala.util.Using.resource(Files.list(dir))(
      _.iterator().asScala.map(_.getFileName.toString).toSeq)
    val committed = names.filter(_.matches("""v\d{5}\.json"""))
    val sidecars = committed.flatMap(n =>
      """"filesParquet":"([^"]+)"""".r
        .findFirstMatchIn(Files.readString(dir.resolve(n))).map(_.group(1)))
    val allowed = (committed ++ sidecars ++
      Seq("_current", "_vacuumed", "_tags")).toSet
    names.filterNot(allowed).sorted
  }
}
