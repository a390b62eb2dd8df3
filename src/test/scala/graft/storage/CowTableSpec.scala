package graft.storage

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CowTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(
      partitionKey: Option[String] = None): (CowTable, String) = {
    val dir = tmpDir("cow")
    val cfg = TableConfig("t", Seq("id"), partitionKey = partitionKey)
    (CowTable(spark, dir + "/t", cfg), dir)
  }

  /** How many current files [[KeyPrune.touched]] reads for `keys` — the
    * pruner's own answer. A mutation rewrites only the touched files that
    * hold a matched key, so its rewrites alone cannot show the pruning. */
  private def touchedBy(t: CowTable, keys: DataFrame,
      maxKeys: Int = KeyPrune.MaxKeys): Int =
    KeyPrune.touched(t.manifest(t.currentVersion), t.root, keys, maxKeys)
      .get._1.size

  test("create + read round-trips exactly") {
    val (t, _) = freshTable()
    val df = (1L to 100L).map(i => (i, s"n$i", i * 1.5)).toDF("id", "name", "v")
    assert(t.create(df) == 1)
    assert(t.read().as[(Long, String, Double)].collect().toSet ==
      df.as[(Long, String, Double)].collect().toSet)
    assert(t.manifest(1).rowCount == 100)
  }

  test("hive-style partitioned create: key=value dirs, partition column survives read") {
    val (t, _) = freshTable(partitionKey = Some("seg"))
    val df = Seq((1L, "A", 1.0), (2L, "B", 2.0), (3L, "A", 3.0))
      .toDF("id", "seg", "v")
    t.create(df)
    assert(t.manifest(1).files.exists(_.path.contains("seg=A")))
    val back = t.read()
    assert(back.schema("seg").dataType.typeName == "string")
    assert(back.as[(Long, String, Double)].collect().toSet ==
      df.as[(Long, String, Double)].collect().toSet)
    // partition pruning reaches the scan: only seg=A files are read
    val plan = back.filter(col("seg") === "A").queryExecution
      .executedPlan.toString
    assert(!plan.contains("seg=B"), s"expected seg=B pruned out:\n$plan")
  }

  test("upsert prunes by file key stats: untouched files carried over, not rewritten") {
    val (t, _) = freshTable()
    // 4 files with disjoint key ranges via range partitioning
    val df = (1L to 400L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartitionByRange(4, col("id"))
    t.create(df)
    val v1Files = t.manifest(1).files.map(_.path)
    assert(v1Files.size == 4)
    // source touches only keys 1..50 → exactly one v1 file overlaps
    val src = Seq((10L, "upd10"), (450L, "new450")).toDF("id", "name")
    assert(touchedBy(t, src) == 1)
    t.upsert(src)
    val v2 = t.manifest(2)
    val carried = v2.files.map(_.path).filter(_.startsWith("v00001"))
    assert(carried.size == 3, s"expected 3 carried-over files: ${v2.files}")
    assert(carried.forall(v1Files.contains))
    // and the carried files' bytes were genuinely not rewritten (same path ⇒ same file)
    val out = t.read().as[(Long, String)].collect().toMap
    assert(out.size == 401 && out(10L) == "upd10" && out(450L) == "new450"
      && out(399L) == "n399")
  }

  test("delete prunes too and only rewrites overlapping files") {
    val (t, _) = freshTable()
    val df = (1L to 400L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartitionByRange(4, col("id"))
    t.create(df)
    assert(touchedBy(t, Seq(5L, 7L).toDF("id")) == 1)
    t.delete(Seq(5L, 7L).toDF("id"))
    val v2 = t.manifest(2)
    assert(v2.files.count(_.path.startsWith("v00001")) == 3)
    assert(v2.rowCount == 398)
    assert(t.read().filter(col("id").isin(5L, 7L)).count() == 0)
  }

  /** 100 rows dealt round-robin into three files whose key ranges are
    * 1–95, 3–98 and 5–100: key 5 lies in every file's range, and only the
    * third file holds it. */
  private def roundRobin(cfg: TableConfig): CowTable = {
    val t = CowTable(spark, tmpDir("cow") + "/t", cfg)
    def fileOf(i: Long): Int = i match {
      case 1 | 2 | 95 => 0
      case 3 | 4 | 96 | 97 | 98 => 1
      case 99 | 100 => 2
      case _ => (i % 3).toInt
    }
    t.create(spark.sparkContext.parallelize(0 until 3, 3)
      .flatMap(j => (1L to 100L).filter(fileOf(_) == j).map(i => (i, s"n$i")))
      .toDF("id", "name"))
    val ranges = t.manifest(1).files
      .map(e => (e.minKey.get.toLong, e.maxKey.get.toLong)).sorted
    assert(ranges == Seq((1L, 95L), (3L, 98L), (5L, 100L)))
    t
  }

  /** The current files by path: (carried from v1, written since). */
  private def split(t: CowTable): (Set[String], Set[String]) =
    t.manifest(t.currentVersion).files.map(_.path).toSet
      .partition(_.startsWith("v00001"))

  test("match-exact upsert: a 1-key update replaces only the file holding " +
    "the key; the others are carried by path") {
    val t = roundRobin(TableConfig("t", Seq("id")))
    val holder = t.manifest(1).files.filter(_.minKey.contains("5"))
      .map(_.path).toSet
    val src = Seq((5L, "u5")).toDF("id", "name")
    assert(touchedBy(t, src) == 3) // every range holds 5
    t.upsert(src)
    val (carried, fresh) = split(t)
    assert(carried == t.manifest(1).files.map(_.path).toSet -- holder)
    assert(fresh.size == 1, fresh)
    val rows = t.read().as[(Long, String)].collect().toMap
    assert(rows.size == 100 && rows(5L) == "u5" && rows(6L) == "n6")
  }

  test("match-exact delete: a 1-key delete replaces only the file holding " +
    "the key; a delete that matches no row commits nothing") {
    val t = roundRobin(TableConfig("t", Seq("id")))
    val holder = t.manifest(1).files.filter(_.minKey.contains("5"))
      .map(_.path).toSet
    assert(t.delete(Seq(5L).toDF("id")) == 2)
    val (carried, fresh) = split(t)
    assert(carried == t.manifest(1).files.map(_.path).toSet -- holder)
    assert(fresh.size == 1, fresh)
    assert(t.manifest(2).rowCount == 99)
    assert(t.read().filter(col("id") === 5L).count() == 0)
    // key 5 is still in two files' ranges but no longer in any row
    assert(touchedBy(t, Seq(5L).toDF("id")) == 2)
    assert(t.delete(Seq(5L).toDF("id")) == 2)
    assert(t.currentVersion == 2)
    // so re-inserting it is insert-only: nothing rewritten, all carried
    val before = t.manifest(2).files.map(_.path).toSet
    t.upsert(Seq((5L, "back")).toDF("id", "name"))
    assert(before.subsetOf(t.manifest(3).files.map(_.path).toSet))
    assert(t.manifest(3).files.size == 4 && t.read().count() == 100)
  }

  test("match-exact CDC batch: an update and a delete in one file — the " +
    "upsert parks the deleted row in a file of its own, the delete drops " +
    "it by path") {
    val t = roundRobin(TableConfig("t", Seq("id")))
    val holder = t.manifest(1).files.filter(_.minKey.contains("5"))
    val (v1, v2) = t.upsertThenDelete(Some(Seq((5L, "u5")).toDF("id", "name")),
      Some(Seq(8L).toDF("id")), oneRowPerKey = true)
    assert((v1, v2) == (2, 3))
    val (carried, fresh) = split(t)
    assert(carried == t.manifest(1).files.map(_.path).toSet -- holder.map(_.path))
    // the upsert's files: the holder without key 8, and key 8 alone
    val upserted = t.manifest(2).files.filterNot(e => carried(e.path))
    assert(upserted.map(_.rows).sorted == Seq(1L, holder.head.rows - 1),
      upserted)
    assert(upserted.exists(e => e.rows == 1 && e.minKey.contains("8") &&
      e.maxKey.contains("8")))
    // the delete wrote no data file
    assert(fresh == upserted.filter(_.rows > 1).map(_.path).toSet)
    val rows = t.read().as[(Long, String)].collect().toMap
    assert(rows.size == 99 && rows(5L) == "u5" && !rows.contains(8L))
    assert(t.validate().filter(!col("ok")).isEmpty)
  }

  test("match-exact COW change feed: row-exact _cdc rows, evolved-in " +
    "columns, NULL keys, no-match deletes write nothing") {
    val t = roundRobin(TableConfig("t", Seq("id"), changeDataFeed = true))
    def feed(v: Int) = t.readChangeFeed(v - 1, v)
      .select("id", "name", "audit", "_change_type")
      .as[(Option[Long], String, Option[String], String)].collect().toSet
    def cdcDirs = java.nio.file.Files.list(t.root.resolve("_cdc"))
      .count()
    // an update, an insert and an evolved-in column: carried rows and the
    // rewritten file's other rows emit nothing; the preimage null-fills
    // the column it predates
    t.upsert(Seq((5L, "u5", "s1"), (200L, "i200", "s2"))
      .toDF("id", "name", "audit"))
    assert(feed(2) == Set(
      (Some(5L), "n5", None, "update_preimage"),
      (Some(5L), "u5", Some("s1"), "update_postimage"),
      (Some(200L), "i200", Some("s2"), "insert")))
    // a source without `audit`: the matched row keeps its value
    t.upsert(Seq((5L, "u5b")).toDF("id", "name"))
    assert(feed(3) == Set(
      (Some(5L), "u5", Some("s1"), "update_preimage"),
      (Some(5L), "u5b", Some("s1"), "update_postimage")))
    // a NULL key: inserted once, then updated null-safely in place
    val nullRow = Seq((Option.empty[Long], "old")).toDF("id", "name")
    t.upsert(nullRow)
    t.upsert(Seq((Option.empty[Long], "new")).toDF("id", "name"))
    assert(feed(5) == Set((None, "old", None, "update_preimage"),
      (None, "new", None, "update_postimage")))
    assert(t.read().filter(col("id").isNull).count() == 1)
    // deletes: exact tombstones, the NULL key included
    t.delete(Seq(Option(5L), None).toDF("id"))
    assert(feed(6) == Set((Some(5L), "u5b", Some("s1"), "delete"),
      (None, "new", None, "delete")))
    assert(t.read().count() == 100)
    // a delete that matches nothing: no version, no `_cdc` dir
    val dirs = cdcDirs
    assert(t.delete(Seq(Option(5L), None).toDF("id")) == 6)
    assert(t.currentVersion == 6 && cdcDirs == dirs)
  }

  test("time travel: v1 readable and unchanged after later commits") {
    val (t, _) = freshTable()
    t.create(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    t.upsert(Seq((1L, "a2")).toDF("id", "name"))
    t.delete(Seq(2L).toDF("id"))
    assert(t.currentVersion == 3)
    assert(t.readVersion(1).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    assert(t.readVersion(2).as[(Long, String)].collect().toSet ==
      Set((1L, "a2"), (2L, "b")))
    assert(t.read().as[(Long, String)].collect().toSet == Set((1L, "a2")))
  }

  test("schema evolution on upsert: new column null-filled for carried-over files") {
    val (t, _) = freshTable()
    t.create((1L to 200L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartitionByRange(2, col("id")))
    t.upsert(Seq((1L, "u1", "2024-06-01")).toDF("id", "name", "audit"))
    val out = t.read()
    assert(out.columns.toSeq == Seq("id", "name", "audit"))
    val rows = out.as[(Long, String, Option[String])].collect()
    assert(rows.length == 200)
    assert(rows.count(_._3.isDefined) == 1)
    // carried-over file (keys 101..200) still readable through evolved schema
    assert(rows.exists(r => r._1 == 150L && r._3.isEmpty))
  }

  test("empty upsert/delete batches are no-ops (no empty commit)") {
    val (t, _) = freshTable()
    t.create(Seq((1L, "a")).toDF("id", "name"))
    val df = Seq((1L, "a")).toDF("id", "name")
    assert(t.upsert(df.filter("id < 0")) == 1)
    assert(t.delete(df.filter("id < 0")) == 1)
    assert(t.currentVersion == 1)
  }

  test("createIfNotExists is idempotent; create on existing table throws") {
    val dir = tmpDir("cow")
    val cfg = TableConfig("t", Seq("id"))
    val t1 = CowTable.createIfNotExists(spark, dir + "/t", cfg,
      Seq((1L, "a")).toDF("id", "name"))
    val t2 = CowTable.createIfNotExists(spark, dir + "/t", cfg,
      sys.error("must not be evaluated — table exists"))
    assert(t2.currentVersion == 1)
    assertThrows[IllegalArgumentException] {
      t1.create(Seq((2L, "b")).toDF("id", "name"))
    }
  }

  test("string keys prune lexicographically") {
    val (tdir) = tmpDir("cow")
    val cfg = TableConfig("t", Seq("k"))
    val t = CowTable(spark, tdir + "/t", cfg)
    t.create(('a' to 'z').map(c => (s"$c", 1)).toDF("k", "v")
      .repartitionByRange(2, col("k")))
    assert(touchedBy(t, Seq(("a", 99)).toDF("k", "v")) == 1)
    t.upsert(Seq(("a", 99)).toDF("k", "v"))
    assert(t.manifest(2).files.count(_.path.startsWith("v00001")) == 1)
    assert(t.read().count() == 26)
  }

  test("compact folds small files into one, content unchanged, old versions intact") {
    val (t, _) = freshTable()
    t.create((1L to 200L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(6))
    t.upsert(Seq((500L, "new")).toDF("id", "name"))
    val before = t.read().as[(Long, String)].collect().toSet
    val filesBefore = t.manifest(t.currentVersion).files.size
    assert(filesBefore > 1)
    val v = t.compact(smallBytes = Long.MaxValue, targetPartitions = 1)
    assert(v == t.currentVersion)
    assert(t.manifest(v).files.size == 1)
    assert(t.read().as[(Long, String)].collect().toSet == before)
    // time travel still sees the pre-compaction version
    assert(t.readVersion(v - 1).count() == 201)
  }

  test("compaction is SHUFFLE-FREE: bins coalesce, plan has no Exchange") {
    val (t, _) = freshTable()
    t.create((1L to 300L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartitionByRange(6, col("id")))
    val m = t.manifest(t.currentVersion)
    val bins = t.compactionBins(m, m.files, targetPartitions = 2)
    assert(bins.size == 2, s"expected 2 bins, got ${bins.map(_.size)}")
    bins.foreach { b =>
      val frame = t.compactionBinFrame(m, b)
      // string check sees through an AdaptiveSparkPlanExec wrapper too
      val plan = frame.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"compaction shuffles:\n$plan")
      assert(frame.rdd.getNumPartitions == 1, "bin must fold to one partition")
    }
    // 2 bins → 2 output partitions → 2 files on write
    val v = t.compact(smallBytes = Long.MaxValue, targetPartitions = 2)
    val files = t.manifest(v).files
    assert(files.size == 2, files.map(_.path).mkString(","))
    assert(t.read().as[(Long, String)].collect().toSet ==
      (1L to 300L).map(i => (i, s"n$i")).toSet)
    // minKey-ordered binning keeps the compacted files range-disjoint
    val ranges = files.map(f =>
      (BigDecimal(f.minKey.get), BigDecimal(f.maxKey.get)))
      .sortBy(_._1)
    assert(ranges.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, ranges.toString)
  }

  test("partitioned compaction: per-partition bins, no Exchange, layout kept") {
    val dir = tmpDir("cow")
    val t = CowTable(spark, dir + "/t",
      TableConfig("t", Seq("id"), partitionKey = Some("seg")))
    t.create(Seq((1L, "A", "x1"), (2L, "B", "y1")).toDF("id", "seg", "name"))
    t.upsert(Seq((3L, "A", "x2"), (4L, "B", "y2")).toDF("id", "seg", "name"))
    t.upsert(Seq((5L, "A", "x3"), (6L, "B", "y3")).toDF("id", "seg", "name"))
    val before = t.manifest(t.currentVersion)
    assert(before.files.count(_.path.contains("seg=A")) == 3)
    // the per-bin frame the partitioned branch writes is Exchange-free —
    // the global-repartition fallback must be gone
    val segA = before.files.filter(_.path.contains("seg=A"))
    val frame = t.compactionBinFrame(before,
      t.compactionBins(before, segA, 1).head)
    val plan = frame.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"partitioned compaction shuffles:\n$plan")
    val v = t.compact()
    val after = t.manifest(v).files
    assert(after.count(_.path.contains("seg=A")) == 1, after.map(_.path))
    assert(after.count(_.path.contains("seg=B")) == 1, after.map(_.path))
    assert(!t.manifest(v).dataChange)
    // rows, values, and partition pruning all survive the re-layout
    assert(t.read().as[(Long, String, String)].collect().toSet == Set(
      (1L, "A", "x1"), (2L, "B", "y1"), (3L, "A", "x2"),
      (4L, "B", "y2"), (5L, "A", "x3"), (6L, "B", "y3")))
    assert(t.read().filter(col("seg") === "A").count() == 3)
    // DSv2 read agrees and still partition-prunes on the new layout
    val dsv2 = spark.read.format("graft").load(dir + "/t")
      .filter(col("seg") === "B")
    assert(dsv2.count() == 3)
  }

  test("change feed over many commits: bounded plan width, identical content") {
    val (t, _) = freshTable()
    t.create(Seq((0L, "v0")).toDF("id", "name"))
    (1L to 40L).foreach(i => t.upsert(Seq((i, s"v$i")).toDF("id", "name")))
    val feed = t.readChangesWithVersion(1, t.currentVersion)
    // every upsert rewrote its file set; each commit's added rows appear
    val rows = feed.as[(Long, String, Int)].collect()
    assert(rows.map(_._3).distinct.sorted.toSeq == (2 to 41))
    assert(rows.filter(_._3 == 41).map(_._1).contains(40L))
    // plan width is bounded: 40 per-commit branches fold into
    // ceil(40/32)=2 checkpointed leaves (vs 40 parquet-scan leaves unbatched)
    val leaves = feed.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size <= 2, s"plan has ${leaves.size} leaves")
    // the tombstone feed goes through the same bounded union
    val cdf = t.readChangeFeed(0, t.currentVersion)
    val cdfLeaves = cdf.queryExecution.optimizedPlan.collectLeaves().size
    assert(cdfLeaves <= 4, s"feed plan has $cdfLeaves leaves")
    val byType = cdf.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType("insert") == 41L) // 1 create row + 40 fresh keys... none deleted
  }

  test("composite keys: second-column stats prune files the first can't") {
    val dir = tmpDir("cow")
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("a", "b")))
    // two files with IDENTICAL a-ranges but disjoint b-ranges: first-column
    // pruning alone must touch both, the b stats separate them
    t.create(
      (1L to 10L).flatMap(a => (1L to 100L).map(b => (a, b, s"v$a-$b")))
        .toDF("a", "b", "v").repartitionByRange(2, col("b")))
    val m = t.manifest(1)
    assert(m.files.size == 2)
    assert(m.key2Numeric)
    assert(m.files.forall(f => f.minKey2.isDefined && f.maxKey2.isDefined),
      m.files.toString)
    val v1 = m.files.map(_.path).toSet
    // (a=5, b=high): in both files' a-range, in only one file's b-range
    assert(touchedBy(t, Seq((5L, 90L)).toDF("a", "b")) == 1)
    t.upsert(Seq((5L, 90L, "updated")).toDF("a", "b", "v"))
    val m2 = t.manifest(2)
    val carried = m2.files.map(_.path).toSet.intersect(v1)
    assert(carried.size == 1,
      s"expected the low-b file carried, got ${carried.size} of ${v1.size}")
    assert(t.read().count() == 1000)
    assert(t.read().filter($"a" === 5L && $"b" === 90L)
      .select("v").as[String].collect().toSeq == Seq("updated"))
    // deletes refine on the second column too
    assert(touchedBy(t, Seq((5L, 90L)).toDF("a", "b")) == 1)
    t.delete(Seq((5L, 90L)).toDF("a", "b"))
    val m3 = t.manifest(3)
    assert(m3.files.map(_.path).toSet.intersect(v1).size == 1)
    assert(t.read().count() == 999)
  }

  test("clusterByKey: shuffled input lands in files with disjoint key ranges") {
    val dir = tmpDir("cow")
    val cfg = TableConfig("t", Seq("id"), clusterByKey = true)
    val t = CowTable(spark, dir + "/t", cfg)
    // deliberately interleaved keys across 4 input partitions
    val rnd = new scala.util.Random(5)
    t.create(rnd.shuffle((1L to 400L).toList).map(i => (i, s"n$i"))
      .toDF("id", "name").repartition(4))
    val files = t.manifest(1).files
    assert(files.size == 4)
    val ranges = files.map(f => (f.minKey.get.toLong, f.maxKey.get.toLong))
      .sortBy(_._1)
    // ranges are disjoint and ordered
    ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) => assert(hi < lo) }
    // so a point upsert touches and rewrites exactly one file
    assert(touchedBy(t, Seq(Tuple1(7L)).toDF("id")) == 1)
    t.upsert(Seq((7L, "upd")).toDF("id", "name"))
    assert(t.manifest(2).files.count(_.path.startsWith("v00001")) == 3)
  }

  test("changeFeed returns exactly the rows of files added in the range") {
    val (t, _) = freshTable()
    t.create((1L to 400L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartitionByRange(4, col("id")))
    t.upsert(Seq((10L, "upd"), (500L, "new")).toDF("id", "name"))
    // v1→v2 changes: the rewritten low file + the new-key rows; carried-over
    // files (keys 101..400) must NOT appear
    val changed = t.readChanges(1, 2).as[(Long, String)].collect().toMap
    assert(changed(10L) == "upd" && changed(500L) == "new")
    assert(!changed.contains(200L))
    assert(changed.keySet.subsetOf((1L to 100L).toSet + 500L))
    // full feed from 0 walks every data commit: v1's 400 inserts + v2's
    // rewritten low file (101 rows) — pre-images included, ordered by the
    // _commit_version stamp (latest wins for an upsert-applying consumer)
    assert(t.readChanges(0, 2).count() == 501)
    val stamped = t.readChangesWithVersion(0, 2)
      .select("id", "name", "_commit_version")
      .as[(Long, String, Int)].collect()
    assert(stamped.length == 501)
    val key10 = stamped.filter(_._1 == 10L).sortBy(_._3)
    assert(key10.map(r => (r._2, r._3)).toSeq == Seq(("n10", 1), ("upd", 2)))
  }

  test("changeFeed skips compaction rewrites but keeps pre-compaction changes") {
    val (t, _) = freshTable()
    t.create((1L to 100L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartitionByRange(4, col("id")))                       // v1
    t.upsert(Seq((10L, "upd")).toDF("id", "name"))             // v2: data
    t.compact(smallBytes = Long.MaxValue, targetPartitions = 1) // v3: rewrite
    // (2,3]: only a compaction happened — feed must be EMPTY (the old
    // semantics re-emitted all 100 compacted rows as fake changes)
    assert(t.readChanges(2, 3).count() == 0)
    // (1,3]: the v2 upsert must survive even though v3 compacted its file
    // away — the feed reads the removed-but-still-on-disk v2 file
    val changed = t.readChanges(1, 3).as[(Long, String)].collect().toMap
    assert(changed(10L) == "upd")
    assert(!changed.contains(60L) || changed.size <= 30,
      s"compacted carry-over rows leaked into the feed: ${changed.size} rows")
  }

  test("string-key pruning orders keys by UTF-8 bytes, not UTF-16") {
    val dir = tmpDir("cow")
    val cfg = TableConfig("t", Seq("id"))
    val t = CowTable(spark, dir + "/t", cfg)
    // U+FFFD (3-byte UTF-8, high UTF-16 code unit) vs U+10400 (4-byte UTF-8,
    // surrogate pair): UTF-16 orders "�" AFTER the pair, UTF-8 before.
    val supp = new String(Character.toChars(0x10400))
    val df = Seq(("�", 1L), (supp, 2L), ("a", 3L)).toDF("id", "v")
    t.create(df.repartitionByRange(3, col("id")))
    // upsert each key: the containing file must be rewritten (not skipped)
    Seq("�", supp, "a").foreach { k =>
      val before = t.read().as[(String, Long)].collect().toMap
      t.upsert(Seq((k, 99L)).toDF("id", "v"))
      val after = t.read().as[(String, Long)].collect().toMap
      assert(after(k) == 99L, s"upsert of key ${k.codePoints().toArray.toSeq} skipped its file")
      assert(after.size == before.size)
    }
  }

  test("rollbackTo restores an old snapshot as a new version, metadata-only") {
    val (t, _) = freshTable()
    t.create(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    t.delete(Seq(2L).toDF("id"))
    assert(t.read().count() == 1)
    val v3 = t.rollbackTo(1)
    assert(v3 == 3 && t.currentVersion == 3)
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // the rolled-back state remains time-travelable
    assert(t.readVersion(2).count() == 1)
    // and no new data files were written (v3 references v1's files)
    assert(t.manifest(3).files == t.manifest(1).files)
  }

  test("compact is a no-op when nothing to fold") {
    val (t, _) = freshTable()
    t.create(Seq((1L, "a")).toDF("id", "name").coalesce(1))
    assert(t.compact() == 1)
    assert(t.currentVersion == 1)
  }

  test("history lists every commit with counts and dataChange flags") {
    val (t, _) = freshTable()
    t.create((1L to 10L).map(i => (i, s"n$i")).toDF("id", "name"))
    t.upsert(Seq((11L, "new")).toDF("id", "name"))
    t.delete(Seq(1L).toDF("id"))
    val h = t.history().orderBy("version")
      .select("version", "parent", "row_count", "data_change")
      .as[(Int, Int, Long, Boolean)].collect().toSeq
    assert(h.map(x => (x._1, x._2, x._3)) ==
      Seq((1, 0, 10L), (2, 1, 11L), (3, 2, 10L)))
    assert(h.forall(_._4))
  }

  test("vacuum deletes only files unreachable from retained versions") {
    val (t, _) = freshTable()
    // 4 disjoint-range files so merges carry most files over
    t.create((1L to 400L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartitionByRange(4, col("id")))
    t.upsert(Seq((10L, "u")).toDF("id", "name")) // v2 rewrites 1 file, carries 3
    t.delete(Seq(399L).toDF("id")) // v3 rewrites 1 file, carries 3
    val before = t.read().as[(Long, String)].collect().toMap
    val deleted = t.vacuum(retainLast = 1)
    // v1's file for range ~1..100 was replaced at v2 and the ~301..400 file
    // at v3 — but only versions, not files, age out: every file still
    // referenced by v3 must survive
    assert(deleted.nonEmpty)
    val live = t.manifest(t.currentVersion).files.map(_.path)
    assert(deleted.toSet.intersect(live.toSet).isEmpty)
    assert(live.forall(p => java.nio.file.Files.exists(t.root.resolve(p))))
    assert(t.read().as[(Long, String)].collect().toMap == before)
    // vacuumed versions are rejected up front, not mid-scan
    assert(t.earliestReadableVersion == 3)
    intercept[IllegalArgumentException](t.readVersion(1))
    intercept[IllegalArgumentException](t.rollbackTo(1))
    intercept[IllegalArgumentException](t.changedFiles(0, 3))
    intercept[IllegalArgumentException](t.readChangesWithVersion(0, 3))
    intercept[IllegalArgumentException](t.readChangesWithVersion(5, 3))
    // the retained window keeps full fidelity
    assert(t.changedFiles(2, 3).nonEmpty)
  }

  test("readRange skips non-overlapping files by manifest stats, exact result") {
    val dir = tmpDir("cow")
    val cfg = TableConfig("t", Seq("id"), clusterByKey = true)
    val t = CowTable(spark, dir + "/t", cfg)
    t.create((1L to 400L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(4))
    assert(t.manifest(1).files.size == 4)
    val out = t.readRange(Some(150L), Some(250L))
    // result identical to a full-scan filter
    assert(out.as[(Long, String)].collect().toSet ==
      t.read().filter(col("id").between(150, 250))
        .as[(Long, String)].collect().toSet)
    // and the scan only touches overlapping files (disjoint ranges of 100
    // keys each => at most 3 of 4 files can overlap [150, 250])
    assert(out.inputFiles.length <= 3,
      s"expected pruned scan, read: ${out.inputFiles.mkString(", ")}")
    // unbounded sides work
    assert(t.readRange(None, Some(100L)).count() == 100)
    assert(t.readRange(Some(301L), None).count() == 100)
  }

  test("timestamp-keyed tables prune correctly (footer stats are micros)") {
    val dir = tmpDir("cow")
    val cfg = TableConfig("t", Seq("ts"))
    val t = CowTable(spark, dir + "/t", cfg)
    // 400 unique keys over 8 hours; 4 files of disjoint 2-hour ranges
    val df = (0L until 400L)
      .map(i => (java.sql.Timestamp.valueOf(
        f"2024-01-01 ${i / 50}%02d:${i % 50}%02d:00"), i))
      .toDF("ts", "v")
    t.create(df.repartitionByRange(4, col("ts")))
    assert(t.manifest(1).files.size == 4)
    assert(t.manifest(1).keyNumeric, "temporal keys must prune numerically")
    // update one key in hour 0: only that file may be rewritten
    val src = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), 999L))
      .toDF("ts", "v")
    assert(touchedBy(t, src) == 1)
    t.upsert(src)
    val carried = t.manifest(2).files.map(_.path)
      .count(_.startsWith("v00001"))
    assert(carried == 3, s"expected 3 carried files: ${t.manifest(2).files}")
    val out = t.read().as[(java.sql.Timestamp, Long)].collect().toMap
    assert(out(java.sql.Timestamp.valueOf("2024-01-01 00:05:00")) == 999L)
    assert(out.size == 400)
    // the over-cap (distributed join) prune path agrees
    val src3 = Seq((java.sql.Timestamp.valueOf("2024-01-01 03:04:00"), 888L))
      .toDF("ts", "v")
    assert(touchedBy(t, src3, maxKeys = 0) == 1)
    t.upsertFrom(t.currentVersion, src3, maxKeys = 0)
    assert(t.manifest(3).files.map(_.path).count(f =>
      f.startsWith("v00001") || f.startsWith("v00002")) == 3)
    assert(t.read().count() == 400)
    // readRange with timestamp bounds uses the same micros space
    val hour0 = t.readRange(
      Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      Some(java.sql.Timestamp.valueOf("2024-01-01 00:59:59")))
    assert(hour0.count() == 50)
    assert(hour0.inputFiles.length <= 2, "expected manifest-level skip")
  }

  test("decimal-keyed tables prune on scaled values (footers are unscaled)") {
    val dir = tmpDir("cow")
    val cfg = TableConfig("t", Seq("amt"))
    val t = CowTable(spark, dir + "/t", cfg)
    val df = (1L to 400L).map(i => (BigDecimal(i) / 100, i))
      .toDF("amt", "v").selectExpr("CAST(amt AS DECIMAL(10,2)) AS amt", "v")
    t.create(df.repartitionByRange(4, col("amt")))
    assert(t.manifest(1).files.size == 4)
    // stats must be in SCALED space: max key is 4.00, not unscaled 400
    val mx = t.manifest(1).files.flatMap(_.maxKey).map(BigDecimal(_)).max
    assert(mx == BigDecimal("4.00"), s"expected scaled stats, got $mx")
    // update one low key: only its file is touched, result exact
    val src = Seq(("0.10", 999L)).toDF("amt", "v")
      .selectExpr("CAST(amt AS DECIMAL(10,2)) AS amt", "v")
    assert(touchedBy(t, src) == 1)
    t.upsert(src)
    assert(t.manifest(2).files.map(_.path).count(_.startsWith("v00001")) == 3)
    val out = t.read().selectExpr("CAST(amt AS STRING)", "v")
      .as[(String, Long)].collect().toMap
    assert(out.size == 400 && out("0.10") == 999L && out("3.99") == 399L)
  }

  test("high-scale DECIMAL(20,12) keys stay exact on the distributed prune path") {
    val dir = tmpDir("cow")
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("k")))
    // keys at 1e-12 granularity: values differ only past the 10th decimal
    val df = (1L to 400L).map(i => i)
      .toDF("i").selectExpr("CAST(i AS DECIMAL(20,12)) / 1000000000000 AS k", "i AS v")
      .selectExpr("CAST(k AS DECIMAL(20,12)) AS k", "v")
    t.create(df.repartitionByRange(4, col("k")))
    assert(t.manifest(1).files.size == 4)
    // maxKeys = 0 forces the over-cap (distributed join) path
    val src = Seq("0.000000000002").toDF("s")
      .selectExpr("CAST(s AS DECIMAL(20,12)) AS k", "CAST(999 AS BIGINT) AS v")
    assert(touchedBy(t, src, maxKeys = 0) == 1)
    t.upsertFrom(t.currentVersion, src, maxKeys = 0)
    val carried =
      t.manifest(2).files.map(_.path).count(_.startsWith("v00001"))
    assert(carried == 3, s"expected 3 carried files: ${t.manifest(2).files}")
    val out = t.read().selectExpr("CAST(k AS STRING) AS k", "v")
      .as[(String, Long)].collect().toMap
    assert(out.size == 400 && out("0.000000000002") == 999L
      && out("0.000000000001") == 1L && out("0.000000000003") == 3L,
      s"sample: ${out.take(5)}")
  }

  test("composite-key prune: exact on the pair path, over the cap, " +
      "null keys") {
    val dir = tmpDir("cow")
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("k1", "k2")))
    // col-1 ranges OVERLAP across every file (k1 = k2 % 100) and col-2 is
    // the range-partitioned axis: only the SECOND-column refinement can
    // prune, so touched-file counts observe exactly that stage.
    val df = (1L to 400L).map(i => (i % 100, i, s"n$i")).toDF("k1", "k2", "v")
    t.create(df.repartitionByRange(4, col("k2")))
    assert(t.manifest(1).files.size == 4)
    def touched(rows: DataFrame, maxKeys: Int = KeyPrune.MaxKeys) =
      touchedBy(t, rows, maxKeys)
    // pair path: one (k1,k2) pair — col-1 keeps all 4 files (all ranges
    // contain 5), col-2 keeps only the low-k2 file
    assert(touched(Seq((5L, 5L)).toDF("k1", "k2")) == 1)
    t.upsert(Seq((5L, 5L, "u5")).toDF("k1", "k2", "v"))
    assert(t.manifest(2).files.map(_.path).count(_.startsWith("v00001")) == 3,
      s"col-2 refinement must carry 3 files: ${t.manifest(2).files.map(_.path)}")
    // still the pair path with two pairs: refinement again touches only
    // the (rewritten) low-k2 file, carrying the three v1 files
    assert(touched(Seq((9L, 9L), (10L, 10L)).toDF("k1", "k2")) == 1)
    t.upsert(Seq((9L, 9L, "u9"), (10L, 10L, "u10")).toDF("k1", "k2", "v"))
    assert(t.manifest(3).files.map(_.path).count(_.startsWith("v00001")) == 3,
      s"got ${t.manifest(3).files.map(_.path)}")
    // null col-1 key: every file is range-touched, but col-2 refinement
    // still applies — only the low-k2 file is touched, and both the
    // null-keyed insert and the untouched rows stay exact
    val nullK1 = Seq((Option.empty[Long], 12L, "uNull1")).toDF("k1", "k2", "v")
    assert(touched(nullK1) == 1,
      "col-2 refinement under a null col-1 key must still prune")
    t.upsert(nullK1)
    assert(t.manifest(4).files.map(_.path).count(_.startsWith("v00001")) == 3)
    // null col-2 value: col-2 refinement is skipped (conservative), col-1
    // overlap touches everything; the row matches none, so it is inserted
    // and nothing is rewritten
    val nullK2 = Seq((11L, Option.empty[Long], "uN")).toDF("k1", "k2", "v")
    assert(touched(nullK2) == t.manifest(4).files.size,
      "null col-2 must skip refinement")
    t.upsert(nullK2)
    assert(t.manifest(4).files.map(_.path).toSet
      .subsetOf(t.manifest(5).files.map(_.path).toSet))
    // over the cap (3 pairs > maxKeys 2): the distributed joins run
    // instead of the pair path; result stays exact
    assert(touched(Seq((6L, 6L), (7L, 7L), (8L, 8L)).toDF("k1", "k2"),
      maxKeys = 2) == 1)
    t.upsertFrom(t.currentVersion,
      Seq((6L, 6L, "u6"), (7L, 7L, "u7"), (8L, 8L, "u8"))
        .toDF("k1", "k2", "v"), maxKeys = 2)
    val out = t.read().select("k1", "k2", "v")
      .as[(Option[Long], Option[Long], String)].collect()
    assert(out.length == 402, s"got ${out.length}")
    val byK2 = out.collect { case (Some(a), Some(b), c) => b -> ((a, c)) }.toMap
    assert(byK2(5L) == ((5L, "u5")) && byK2(9L) == ((9L, "u9"))
      && byK2(10L) == ((10L, "u10")) && byK2(6L) == ((6L, "u6"))
      && byK2(8L) == ((8L, "u8")) && byK2(400L) == ((0L, "n400"))
      && byK2(12L) == ((12L, "n12")))
    assert(out.contains((None, Some(12L), "uNull1")))
    assert(out.contains((Some(11L), None, "uN")))
  }

  test("over-cap composite batches refine on the second column too") {
    val dir = tmpDir("cow")
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("k1", "k2")))
    // same layout as above: col-1 ranges overlap, col-2 partitions files
    val df = (1L to 400L).map(i => (i % 100, i, s"n$i")).toDF("k1", "k2", "v")
    t.create(df.repartitionByRange(4, col("k2")))
    // 3 pairs > maxKeys 2: the first-column join touches all 4 files, the
    // second-column join keeps only the low-k2 one
    assert(touchedBy(t, Seq((6L, 6L), (7L, 7L), (8L, 8L)).toDF("k1", "k2"),
      maxKeys = 2) == 1)
    t.upsertFrom(t.currentVersion,
      Seq((6L, 6L, "u6"), (7L, 7L, "u7"), (8L, 8L, "u8"))
        .toDF("k1", "k2", "v"), maxKeys = 2)
    val v2 = t.manifest(2)
    assert(v2.files.map(_.path).count(_.startsWith("v00001")) == 3,
      s"col-2 join must carry 3 files: ${v2.files.map(_.path)}")
    val out = t.read().select("k2", "v").as[(Long, String)].collect().toMap
    assert(out.size == 400 && out(6L) == "u6" && out(8L) == "u8"
      && out(5L) == "n5" && out(400L) == "n400")
  }

  test("oversized batches prune via the distributed range join, still exact") {
    val (t, _) = freshTable()
    t.create((1L to 400L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartitionByRange(4, col("id")))
    // maxKeys = 2 makes this 3-key batch oversized: keys 10 and 399 touch
    // exactly the first and last of 4 files — a global [min,max] overlap
    // would have touched all 4
    assert(touchedBy(t, Seq(10L, 399L, 500L).toDF("id"), maxKeys = 2) == 2)
    t.upsertFrom(t.currentVersion,
      Seq((10L, "u10"), (399L, "u399"), (500L, "new")).toDF("id", "name"),
      maxKeys = 2)
    val v2 = t.manifest(2)
    val carried = v2.files.map(_.path).count(_.startsWith("v00001"))
    assert(carried == 2, s"expected 2 carried files: ${v2.files.map(_.path)}")
    val out = t.read().as[(Long, String)].collect().toMap
    assert(out.size == 401 && out(10L) == "u10" && out(399L) == "u399"
      && out(500L) == "new" && out(200L) == "n200")
  }

  test("readChangeFeed classifies insert / update_postimage / delete exactly") {
    val dir = tmpDir("cow")
    // one row per file ⇒ file-diff classification is per-key exact
    val cfg = TableConfig("t", Seq("id"), maxRecordsPerFile = 1L)
    val t = CowTable(spark, dir + "/t", cfg)
    t.create(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"))
    t.upsert(Seq((2L, "B2"), (4L, "d")).toDF("id", "name")) // v2: upd 2, ins 4
    t.delete(Seq(Tuple1(1L)).toDF("id"))                    // v3: del 1
    val feed = t.readChangeFeed(1, t.currentVersion)
      .select("id", "name", "_commit_version", "_change_type")
      .as[(Long, String, Int, String)].collect().toSet
    assert(feed == Set(
      (2L, "b", 2, "update_preimage"),
      (2L, "B2", 2, "update_postimage"),
      (4L, "d", 2, "insert"),
      (1L, "a", 3, "delete")), s"got $feed")
    // compaction (dataChange=false) emits nothing; the delete tombstone
    // stays exact across it
    t.compact(smallBytes = Long.MaxValue, targetPartitions = 1)
    assert(t.readChangeFeed(3, t.currentVersion).count() == 0)
    assert(t.readChangeFeed(1, t.currentVersion)
      .select("id", "name", "_commit_version", "_change_type")
      .as[(Long, String, Int, String)].collect().toSet == feed)
    // a rollback to v1 surfaces the restored row as insert, the rolled-away
    // upserts as delete/update back to v1 state
    val v5 = t.rollbackTo(1)
    val roll = t.readChangeFeed(4, v5)
      .select("id", "name", "_commit_version", "_change_type")
      .as[(Long, String, Int, String)].collect().toSet
    // id 3 shows as unchanged-value churn: this table is NOT a CDF table
    // (the file-diff branch answers, file-granularity caveat documented) —
    // the compacted v4 file co-located id 3 with rewritten neighbors. A
    // changeDataFeed table materializes the restore diff instead and
    // filters the churn (see the CDF rollback test below)
    assert(roll == Set(
      (1L, "a", v5, "insert"),
      (2L, "B2", v5, "update_preimage"),
      (2L, "b", v5, "update_postimage"),
      (3L, "c", v5, "update_preimage"),
      (3L, "c", v5, "update_postimage"),
      (4L, "d", v5, "delete")), s"got $roll")
  }

  test("rollback on a CDF table materializes the restore diff — never the " +
      "target commit's stale change rows") {
    val dir = tmpDir("cow")
    val t = CowTable(spark, dir + "/t",
      TableConfig("t", Seq("id"), changeDataFeed = true))
    t.create(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")) // v1
    t.upsert(Seq((2L, "B2"), (4L, "d")).toDF("id", "name")) // v2: cdc rows
    assert(t.manifest(2).cdcDir.isDefined)
    t.delete(Seq(Tuple1(3L)).toDF("id"))                    // v3: del 3
    // REGRESSION: the v4 manifest is a copy of v2's — it must NOT carry
    // v2's cdcDir (a feed read of v4 would re-emit v2's recorded rows as
    // the restore's). The true diff from {1a,2B2,4d} back to v2's state
    // {1a,2B2,3c,4d} is exactly "3 comes back" — which v2's stale change
    // rows never mention; unchanged keys emit nothing (churn filtered).
    val v4 = t.rollbackTo(2)
    assert(t.manifest(v4).cdcDir != t.manifest(2).cdcDir,
      "rollback must not inherit the target's cdcDir")
    val roll = t.readChangeFeed(3, v4)
      .select("id", "name", "_commit_version", "_change_type")
      .as[(Long, String, Int, String)].collect().toSet
    assert(roll == Set((3L, "c", v4, "insert")), s"got $roll")
    // the DSv2 file-partition feed serves the same rows (it has no diff
    // join — only the materialized dir makes the commit readable)
    val dsv2 = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", v4.toString).load(dir + "/t")
      .select("id", "name", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(dsv2 == Set((3L, "c", "insert")), s"got $dsv2")
  }

  test("maxRecordsPerFile caps data-file size on every write path") {
    val dir = tmpDir("cow")
    val cfg = TableConfig("t", Seq("id"), maxRecordsPerFile = 25L)
    val t = CowTable(spark, dir + "/t", cfg)
    t.create((1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1))
    assert(t.manifest(1).files.size >= 4)
    assert(t.manifest(1).files.forall(_.rows <= 25L))
    assert(t.read().count() == 100)
  }

  test("schema widening on upsert: int→long and float→double, old files conform") {
    val (t, _) = freshTable()
    t.create((1L to 100L).map(i => (i, i.toInt, i.toFloat))
      .toDF("id", "n", "x").repartitionByRange(2, col("id")))
    // wider source types widen the TABLE schema (Delta-autoMerge-style)
    t.upsert(Seq((1L, 5000000000L, 2.5d), (101L, 7L, 1.5d))
      .toDF("id", "n", "x"))
    val out = t.read()
    assert(out.schema("n").dataType.typeName == "long")
    assert(out.schema("x").dataType.typeName == "double")
    val m = out.as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(m.size == 101 && m(1L)._2 == 5000000000L && m(101L)._3 == 1.5d)
    // carried-over old files (int/float) read through the widened schema
    assert(m(80L)._2 == 80L && m(80L)._3 == 80.0d)
    // a NARROWER source upcasts into the table type, schema unchanged
    t.upsert(Seq((2L, 9, 9.0f)).toDF("id", "n", "x")
      .selectExpr("id", "CAST(n AS INT) AS n", "CAST(x AS FLOAT) AS x"))
    assert(t.read().schema("n").dataType.typeName == "long")
    assert(t.read().filter(col("id") === 2L).select("n")
      .as[Long].head() == 9L)
  }

  test("decimal widening grows to max integer digits + max scale") {
    val (t, _) = freshTable()
    t.create(Seq((1L, "10.25")).toDF("id", "s")
      .selectExpr("id", "CAST(s AS DECIMAL(10,2)) AS amt"))
    t.upsert(Seq((2L, "123.4567")).toDF("id", "s")
      .selectExpr("id", "CAST(s AS DECIMAL(12,4)) AS amt"))
    val dt = t.read().schema("amt").dataType.simpleString
    assert(dt == "decimal(12,4)", dt) // 8 int digits + 4 scale
    assert(t.read().selectExpr("CAST(amt AS STRING)").as[String]
      .collect().toSet == Set("10.2500", "123.4567"))
  }

  test("incompatible type change on upsert fails loudly, naming the column") {
    val (t, _) = freshTable()
    t.create(Seq((1L, 10)).toDF("id", "n"))
    val e = intercept[IllegalArgumentException] {
      t.upsert(Seq((1L, "ten")).toDF("id", "n"))
    }
    assert(e.getMessage.contains("column n") &&
      e.getMessage.contains("int") && e.getMessage.contains("string"),
      e.getMessage)
    // long→int narrowing of a NON-shared-family type is fine (int widens);
    // but long target never narrows to int: schema stays as created
    assert(t.read().schema("n").dataType.typeName == "integer")
  }

  test("optimistic concurrency: of two interleaved writers exactly one commits") {
    val (t, _) = freshTable()
    t.create(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    // both writers observe parent=1; A commits v2 first
    val staleParent = t.currentVersion
    t.upsert(Seq((1L, "A2")).toDF("id", "name")) // writer A wins v2
    // writer B replays its commit against the stale parent → CAS must fail
    val e = intercept[ConcurrentWriteException] {
      t.writeVersion(Seq((2L, "B2")).toDF("id", "name"),
        t.read().schema, carryOver = Nil, parent = staleParent)
    }
    assert(e.getMessage.contains("concurrent writer"))
    // the table is exactly writer A's commit — B changed nothing visible
    assert(t.currentVersion == 2)
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "A2"), (2L, "b")))
    // true concurrency: many threads race distinct upserts; every commit
    // that reports success is present, losers threw and retried nothing
    import scala.collection.parallel.CollectionConverters._
    val results = (1 to 8).par.map { i =>
      try Right(t.upsert(Seq((i.toLong + 10L, s"w$i")).toDF("id", "name")))
      catch { case ce: ConcurrentWriteException => Left(ce) }
    }.toList
    val wins = results.collect { case Right(v) => v }
    assert(wins.nonEmpty && wins.distinct.size == wins.size,
      s"duplicate version claimed: $results")
    assert(t.currentVersion == 2 + wins.size)
    val names = t.read().as[(Long, String)].collect().toMap
    results.zipWithIndex.foreach {
      case (Right(_), i) => assert(names(i.toLong + 11L) == s"w${i + 1}")
      case (Left(_), _) => ()
    }
  }

  test("crashed-writer heal: currentVersion probes past a stale pointer hint") {
    val (t, dir) = freshTable()
    t.create(Seq((1L, "a")).toDF("id", "name"))
    t.upsert(Seq((2L, "b")).toDF("id", "name"))
    // simulate the crash window between manifest link and pointer refresh
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "t", "_manifests", "_current"), "1")
    assert(t.currentVersion == 2, "committed manifest must win over the hint")
    assert(t.read().count() == 2)
  }

  test("TIMESTAMP AS OF resolves to the latest commit at or before the timestamp") {
    val (t, _) = freshTable()
    val ticks = Iterator(1000L, 2000L, 3000L)
    t.withClock(() => ticks.next())
    t.create(Seq((1L, "v1")).toDF("id", "name"))       // committed at 1000
    t.upsert(Seq((1L, "v2")).toDF("id", "name"))       // committed at 2000
    t.delete(Seq(1L).toDF("id"))                        // committed at 3000
    assert(t.versionAsOf(1000L) == 1)
    assert(t.versionAsOf(1500L) == 1)
    assert(t.versionAsOf(2000L) == 2)
    assert(t.versionAsOf(Long.MaxValue) == 3)
    assert(t.readAsOf(2500L).as[(Long, String)].collect().toSeq ==
      Seq((1L, "v2")))
    assertThrows[IllegalArgumentException] { t.versionAsOf(999L) }
    // history surfaces the commit clock
    assert(t.history().orderBy("version").select("commit_time_ms")
      .as[Long].collect().toSeq == Seq(1000L, 2000L, 3000L))
  }

  test("vacuumOlderThan retains every version current inside the window") {
    val (t, _) = freshTable()
    // commits at t=1000, 2000, 3000, 4000; "now" for the vacuum = 10000
    val ticks = Iterator(1000L, 2000L, 3000L, 4000L, 10000L, 10000L)
    t.withClock(() => ticks.next())
    t.create(Seq((1L, "a")).toDF("id", "name"))
    t.overwrite(Seq((2L, "b")).toDF("id", "name"))
    t.overwrite(Seq((3L, "c")).toDF("id", "name"))
    t.overwrite(Seq((4L, "d")).toDF("id", "name"))
    // window [10000-7500, 10000] = [2500, 10000]: v3/v4 committed inside,
    // v2 was CURRENT at the window start (commit 2000 ≤ 2500) — retained
    // so TIMESTAMP AS OF 2500 keeps resolving; only v1 expires
    val deleted = t.vacuumOlderThan(retainMs = 7500L)
    assert(deleted.nonEmpty)
    assert(t.earliestReadableVersion == 2)
    assert(t.readVersion(2).as[(Long, String)].head() == ((2L, "b")))
    assertThrows[IllegalArgumentException] { t.readVersion(1) }
    // a zero-width window keeps only the current version
    assert(t.vacuumOlderThan(retainMs = 0L).nonEmpty)
    assert(t.earliestReadableVersion == 4)
    assert(t.read().as[(Long, String)].head() == ((4L, "d")))
  }

  test("vacuum retaining everything deletes nothing") {
    val (t, _) = freshTable()
    t.create(Seq((1L, "a")).toDF("id", "name"))
    t.upsert(Seq((2L, "b")).toDF("id", "name"))
    assert(t.vacuum(retainLast = 10).isEmpty)
    assert(t.earliestReadableVersion == 1)
    assert(t.readVersion(1).count() == 1)
  }

  test("shallowClone: zero-copy fork, fully isolated from the source") {
    val dir = tmpDir("cow")
    val t = CowTable(spark, dir + "/src", TableConfig("t", Seq("id")))
    t.create((1L to 50L).map(i => (i, s"n$i")).toDF("id", "name"))
    t.upsert(Seq((1L, "N1")).toDF("id", "name"))
    val c = t.shallowClone(dir + "/fork", Some("t_fork"))

    // same rows, fresh single-commit history, stats carried verbatim
    assert(c.read().as[(Long, String)].collect().toSet ==
      t.read().as[(Long, String)].collect().toSet)
    assert(c.currentVersion == 1 && c.config.tableName == "t_fork")
    assert(c.manifest(1).files.toSet == t.manifest(2).files.toSet)

    // zero-copy: every cloned file shares the source file's inode
    def ino(root: String, rel: String): Any = java.nio.file.Files
      .getAttribute(java.nio.file.Paths.get(root).resolve(rel), "unix:ino")
    assert(c.manifest(1).files.forall(e =>
      ino(dir + "/fork", e.path) == ino(dir + "/src", e.path)))

    // writes diverge: mutate the fork, the source is bit-identical
    val before = t.read().as[(Long, String)].collect().toSet
    c.upsert(Seq((2L, "FORKED"), (99L, "new")).toDF("id", "name"))
    c.delete(Seq(Tuple1(3L)).toDF("id"))
    assert(t.read().as[(Long, String)].collect().toSet == before)
    assert(c.read().filter($"id" === 2L).as[(Long, String)].head()._2
      == "FORKED")

    // vacuum on the fork drops ITS directory entries only — the source's
    // links keep the shared inodes alive
    c.vacuum(retainLast = 1)
    assert(t.read().as[(Long, String)].collect().toSet == before)

    // a second clone into an occupied destination fails loud
    assertThrows[IllegalArgumentException] {
      t.shallowClone(dir + "/fork")
    }
  }

  test("rollback across a column RENAME keeps renamed-column preimage " +
      "values (physical-name match, never logical null-fill)") {
    val dir = tmpDir("cow")
    val t = CowTable(spark, dir + "/t",
      TableConfig("t", Seq("id"), changeDataFeed = true))
    t.create(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))        // v1
    t.upsert(Seq((2L, "B2"), (3L, "c")).toDF("id", "v"))       // v2
    t.renameColumn("v", "payload")                             // v3 (meta)
    // restore v1 across the rename: the diff must read the CURRENT era's
    // `payload` bytes through the rename-stable physical slot — matching
    // by logical name would null-fill every preimage value
    val v4 = t.rollbackTo(1)
    val roll = t.readChangeFeed(3, v4)
      .select("id", "v", "_change_type")
      .as[(Long, String, String)].collect().toSet
    assert(roll == Set(
      (2L, "B2", "update_preimage"),
      (2L, "b", "update_postimage"),
      (3L, "c", "delete")), s"got $roll")
  }

  test("computeNdvSketches reaches its no-op fixpoint when a stats column " +
      "is the path-borne partition key") {
    val dir = tmpDir("cow")
    val t0 = CowTable(spark, dir + "/t", TableConfig("t", Seq("id"),
      partitionKey = Some("g"), statsColumns = Seq("g", "v")))
    t0.create((1L to 60L).map(i => (i, s"g${i % 3}", i * 1.0))
      .toDF("id", "g", "v"))
    // adopt sketches via a backfill handle (the CALL compute_stats shape)
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("id"),
      partitionKey = Some("g"), statsColumns = Seq("g", "v"),
      ndvSketch = true))
    val v1 = t.computeNdvSketches()
    assert(v1 == 2, "backfill writes one metadata commit")
    // the hive partition key carries NO file bytes — the backfill must
    // exclude it from the lacking test, or every CALL re-reads all files
    // and writes a new metadata commit forever
    val v2 = t.computeNdvSketches()
    assert(v2 == v1, s"backfill did not converge: $v1 -> $v2")
    // the in-file stats column still got its sketch
    assert(t.manifest(v1).files.filter(_.rows > 0)
      .forall(_.ndv.contains("v")))
  }

  test("a write whose first partition is empty commits no 0-row file") {
    val (t, dir) = freshTable()
    // three slices of ten ids; the filter empties the first one, which
    // Spark's writer still turns into a (0-row) file
    val df = spark.range(0, 30, 1, 3).filter(col("id") >= 10)
      .select(col("id"), concat(lit("n"), col("id")).as("name"))
    assert(df.rdd.getNumPartitions == 3)
    t.create(df)
    val m = t.manifest(1)
    assert(m.files.size == 2 && m.files.forall(_.rows > 0), m.files)
    assert(m.rowCount == 20 && t.read().count() == 20)
    // the dropped file is gone from disk too: no data file the manifest
    // does not list
    val onDisk = scala.util.Using.resource(
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "t"))) {
      _.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).filterNot(_.contains("_manifests"))
        .toSet
    }
    assert(onDisk == m.files.map(e => t.root.resolve(e.path).toString).toSet)

    // an all-empty write keeps its (0-row) entry as before
    val (e, _) = freshTable()
    e.create(spark.range(0, 30, 1, 3).filter(col("id") < 0)
      .select(col("id"), concat(lit("n"), col("id")).as("name")))
    assert(e.manifest(1).rowCount == 0 && e.read().count() == 0)
    assert(e.manifest(1).files.nonEmpty &&
      e.manifest(1).files.forall(_.rows == 0))
  }
}
