package graft.sources

import graft.SparkSpec
import graft.storage.{CowTable, TableConfig}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

class GraftStreamSourceSpec extends SparkSpec {
  import spark.implicits._

  private def rows(lo: Long, hi: Long) =
    (lo to hi).map(i => (i, s"name$i", i * 1.5)).toDF("id", "name", "v")

  /** Drain src → graft dst with AvailableNow; returns after termination. */
  private def drain(src: String, dst: String, ckpt: String,
      opts: Map[String, String] = Map.empty): Unit = {
    val reader = spark.readStream.format("graft")
    opts.foreach { case (k, v) => reader.option(k, v) }
    val q = reader.load(src)
      .writeStream.format("graft")
      .option("path", dst).option("primaryKey", "id")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def dstIds(dst: String): Set[Long] =
    CowTable(spark, dst, TableConfig("dst", Seq("id")))
      .read().select("id").as[Long].collect().toSet

  test("append commits stream incrementally, exactly-once across restarts") {
    val dir = tmpDir("gstream")
    val t = CowTable(spark, dir + "/src", TableConfig("t", Seq("id")))
    t.create(rows(1, 50))          // v1
    t.upsert(rows(51, 80))         // v2: disjoint keys ⇒ pure append
    drain(dir + "/src", dir + "/dst", dir + "/ckpt")
    assert(dstIds(dir + "/dst") == (1L to 80L).toSet)

    t.upsert(rows(81, 100))        // v3 after the first drain
    drain(dir + "/src", dir + "/dst", dir + "/ckpt") // same checkpoint
    // only v3 arrives; v1/v2 rows are not re-emitted (no duplicate upserts)
    assert(dstIds(dir + "/dst") == (1L to 100L).toSet)
    val dst = CowTable(spark, dir + "/dst", TableConfig("dst", Seq("id")))
    assert(dst.read().count() == 100L) // exactly-once: no dup rows at all
  }

  test("rewrite commits fail loudly; ignoreChanges streams added files") {
    val dir = tmpDir("gstream")
    val t = CowTable(spark, dir + "/src", TableConfig("t", Seq("id")))
    t.create(rows(1, 20))
    t.upsert(rows(10, 15).withColumn("v", lit(99.0))) // overlap ⇒ rewrite
    val e = intercept[StreamingQueryException] {
      drain(dir + "/src", dir + "/dst", dir + "/ckpt")
    }
    val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msg.contains("ignoreChanges"), msg)

    drain(dir + "/src", dir + "/dst2", dir + "/ckpt2",
      Map("ignoreChanges" -> "true"))
    // rewritten file re-emits its rows; the graft sink upserts by key, so
    // the dst converges to the source's final state
    val dst = CowTable(spark, dir + "/dst2", TableConfig("dst", Seq("id")))
    val vAt12 = dst.read().filter($"id" === 12L).select("v").as[Double].head()
    assert(vAt12 == 99.0)
    assert(dstIds(dir + "/dst2") == (1L to 20L).toSet)
  }

  test("dataChange=false commits (compaction) are skipped") {
    val dir = tmpDir("gstream")
    val t = CowTable(spark, dir + "/src", TableConfig("t", Seq("id")))
    t.create(rows(1, 30))
    t.upsert(rows(31, 60))
    t.compact(smallBytes = 1L << 30) // rewrites everything, dataChange=false
    t.upsert(rows(61, 70))
    drain(dir + "/src", dir + "/dst", dir + "/ckpt")
    val dst = CowTable(spark, dir + "/dst", TableConfig("dst", Seq("id")))
    assert(dst.read().count() == 70L) // compacted layout never re-emitted
    assert(dstIds(dir + "/dst") == (1L to 70L).toSet)
  }

  test("startingVersion skips earlier commits; maxCommitsPerBatch paces") {
    val dir = tmpDir("gstream")
    val t = CowTable(spark, dir + "/src", TableConfig("t", Seq("id")))
    t.create(rows(1, 10))    // v1
    t.upsert(rows(11, 20))   // v2
    t.upsert(rows(21, 30))   // v3
    // startingVersion is INCLUSIVE (Delta convention): start AT v2
    drain(dir + "/src", dir + "/dst", dir + "/ckpt",
      Map("startingVersion" -> "2", "maxCommitsPerBatch" -> "1"))
    assert(dstIds(dir + "/dst") == (11L to 30L).toSet)
    // one commit per micro-batch ⇒ the sink committed one epoch per source
    // commit: dst history has exactly 2 data commits
    val dst = CowTable(spark, dir + "/dst", TableConfig("dst", Seq("id")))
    assert(dst.currentVersion == 2, s"v=${dst.currentVersion}")
  }

  test("maxRowsPerBatch paces by volume; an oversized commit still admits") {
    val dir = tmpDir("gstream")
    val t = CowTable(spark, dir + "/src", TableConfig("t", Seq("id")))
    t.create(rows(1, 10))    // v1: 10 rows
    t.upsert(rows(11, 20))   // v2: +10
    t.upsert(rows(21, 50))   // v3: +30 (alone over the cap)
    t.upsert(rows(51, 55))   // v4: +5
    // cap 15: v1 | v2 | v3 (first-commit progress guarantee) | v4
    drain(dir + "/src", dir + "/dst", dir + "/ckpt",
      Map("maxRowsPerBatch" -> "15"))
    assert(dstIds(dir + "/dst") == (1L to 55L).toSet)
    val dst = CowTable(spark, dir + "/dst", TableConfig("dst", Seq("id")))
    assert(dst.currentVersion == 4, s"v=${dst.currentVersion}")
    // cap 25: v1+v2 coalesce (20 ≤ 25), then v3, then v4 — 3 epochs
    drain(dir + "/src", dir + "/dst2", dir + "/ckpt2",
      Map("maxRowsPerBatch" -> "25"))
    assert(dstIds(dir + "/dst2") == (1L to 55L).toSet)
    val dst2 = CowTable(spark, dir + "/dst2", TableConfig("dst2", Seq("id")))
    assert(dst2.currentVersion == 3, s"v=${dst2.currentVersion}")
  }

  test("maxBytesPerBatch paces by BYTES under size skew; tighter cap wins") {
    val dir = tmpDir("gstream")
    val t = CowTable(spark, dir + "/src", TableConfig("t", Seq("id")))
    // equal ROW counts, wildly unequal BYTES: v2 carries a fat payload
    // (sha2-derived so parquet can't compress it away)
    def fat(lo: Long, hi: Long) = (lo to hi).map(i => (i, s"name$i", i * 1.5))
      .toDF("id", "name", "v")
      .withColumn("name", concat((1 to 40).map(j =>
        sha2(concat($"id".cast("string"), lit(j)), 256)): _*))
    t.create(rows(1, 10))    // v1: 10 small rows
    t.upsert(fat(11, 20))    // v2: 10 fat rows (~25 kB)
    t.upsert(rows(21, 30))   // v3: 10 small rows
    val root = java.nio.file.Paths.get(dir + "/src")
    def addedBytes(v: Int): Long = {
      val m = CowTable.manifestAt(root, v)
      val pp = if (m.parent <= 0) Set.empty[String]
        else CowTable.manifestAt(root, m.parent).files.map(_.path).toSet
      m.files.filterNot(e => pp(e.path)).map(_.bytes).sum
    }
    val (b1, b2, b3) = (addedBytes(1), addedBytes(2), addedBytes(3))
    assert(b2 > (b1 + b3) * 2, s"skew not realized: $b1 $b2 $b3")
    // cap admits v1 alone (v1+v2 over), v2 alone via the progress
    // guarantee, v3 alone ⇒ 3 sink epochs where a 30-row cap gives 1
    val cap = (b1 + b3).toString
    drain(dir + "/src", dir + "/dst", dir + "/ckpt",
      Map("maxBytesPerBatch" -> cap))
    assert(dstIds(dir + "/dst") == (1L to 30L).toSet)
    val dst = CowTable(spark, dir + "/dst", TableConfig("dst", Seq("id")))
    assert(dst.currentVersion == 3, s"v=${dst.currentVersion}")
    // composition: a loose row cap does not relax the byte cap — the
    // tightest of the caps decides the epoch boundary
    drain(dir + "/src", dir + "/dst2", dir + "/ckpt2",
      Map("maxBytesPerBatch" -> cap, "maxRowsPerBatch" -> "1000"))
    val dst2 = CowTable(spark, dir + "/dst2", TableConfig("dst2", Seq("id")))
    assert(dst2.currentVersion == 3, s"v=${dst2.currentVersion}")
    assert(dstIds(dir + "/dst2") == (1L to 30L).toSet)
    // ...and with no byte cap the same row budget coalesces everything
    drain(dir + "/src", dir + "/dst3", dir + "/ckpt3",
      Map("maxRowsPerBatch" -> "1000"))
    val dst3 = CowTable(spark, dir + "/dst3", TableConfig("dst3", Seq("id")))
    assert(dst3.currentVersion == 1, s"v=${dst3.currentVersion}")
  }

  test("filters apply as residuals; batches read only each commit's adds") {
    val dir = tmpDir("gstream")
    val cfg = TableConfig("t", Seq("id"), partitionKey = Some("seg"))
    val t = CowTable(spark, dir + "/src", cfg)
    t.create(Seq((1L, "A", 1.0), (2L, "B", 2.0)).toDF("id", "seg", "v"))
    t.upsert(Seq((3L, "A", 3.0), (4L, "B", 4.0)).toDF("id", "seg", "v"))
    val sink = "gstream_pruned"
    val q = spark.readStream.format("graft").load(dir + "/src")
      .filter($"seg" === "A")
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", dir + "/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table(sink).select("id").as[Long].collect().toSet ==
      Set(1L, 3L))
    // Spark does not push filters into micro-batch DSv2 scans (the filter
    // above ran as a residual), but incrementality holds: only the 4 added
    // rows were ever read — carried-over files are never re-scanned
    val read = q.recentProgress.map(_.numInputRows).sum
    assert(read == 4L, s"streamed $read rows — expected only the adds")
  }

  test("consumed partition filter stays exact across streamed batches") {
    val dir = tmpDir("gstream")
    val t = CowTable(spark, dir + "/src",
      TableConfig("t", Seq("id"), partitionKey = Some("cat")))
    def part(lo: Long, hi: Long) = (lo to hi)
      .map(i => (i, s"c${i % 2}", i * 1.0)).toDF("id", "cat", "v")
    t.create(part(1, 40)) // v1: both partition values
    // the WHERE on the hive key is CONSUMED at plan time (no residual);
    // streamed batches must therefore prune exactly by path value
    def drainFiltered(): Unit = {
      val q = spark.readStream.format("graft").load(dir + "/src")
        .filter(col("cat") === "c1")
        .writeStream.format("graft")
        .option("path", dir + "/dst").option("primaryKey", "id")
        .option("checkpointLocation", dir + "/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainFiltered()
    t.upsert(part(41, 60)) // v2 arrives after the first drain
    drainFiltered()        // same checkpoint: only v2's files
    assert(dstIds(dir + "/dst") == (1L to 60L).filter(_ % 2 == 1).toSet)
  }

  test("readChangeFeed streams I/U/D rows incl. preimage deletes") {
    val dir = tmpDir("gstream")
    val t = CowTable(spark, dir + "/src",
      TableConfig("t", Seq("id"), changeDataFeed = true))
    t.create(rows(1, 5))                                         // v1
    t.upsert(Seq((3L, "NEW3", 0.0), (9L, "nine", 9.0))
      .toDF("id", "name", "v"))                                  // v2 cdc
    t.delete(Seq(1L).toDF("id"))                                 // v3 cdc
    val sink = "gstream_cdf"
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").load(dir + "/src")
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", dir + "/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import spark.implicits._
    val got = spark.table(sink)
      .select("id", "name", "_commit_version", "_change_type")
      .as[(Long, String, Int, String)].collect().toSet
    val expected =
      (1L to 5L).map(i => (i, s"name$i", 1, "insert")).toSet ++ Set(
        (3L, "name3", 2, "update_preimage"),
        (3L, "NEW3", 2, "update_postimage"),
        (9L, "nine", 2, "insert"),
        (1L, "name1", 3, "delete")) // preimage
    assert(got == expected, got)
    // _commit_timestamp rides every feed row, monotone with the version
    val ts = spark.table(sink)
      .select("_commit_version", "_commit_timestamp")
      .as[(Int, java.sql.Timestamp)].collect()
    assert(ts.forall(_._2 != null))
    val byV = ts.groupBy(_._1).view.mapValues(_.map(_._2.getTime).distinct)
    assert(byV.values.forall(_.size == 1), byV.toMap.toString)
    assert(byV.toSeq.sortBy(_._1).map(_._2.head).sliding(2)
      .forall(p => p.size < 2 || p(0) <= p(1)))
  }

  test("readChangeFeed serves a metadata-only DELETE as dropped-file " +
      "delete rows, minus the files' deletion vectors") {
    val dir = tmpDir("gstream")
    val t = CowTable(spark, dir + "/src",
      TableConfig("t", Seq("id"), changeDataFeed = true,
        deletionVectors = true))
    t.create(rows(1, 20))                 // v1: range-clustered files
    t.delete(Seq(2L).toDF("id"))          // v2: DV sidecar + materialized cdc
    // whole-file-covered predicate ⇒ metadata-only drop commit at v3
    spark.sql("DROP TABLE IF EXISTS mdel_cdf_t")
    spark.sql(s"CREATE TABLE mdel_cdf_t USING graft LOCATION '${dir}/src'")
    spark.sql("DELETE FROM mdel_cdf_t WHERE id <= 10")
    spark.sql("DROP TABLE IF EXISTS mdel_cdf_t")
    val v2 = t.manifest(2)
    val v3 = t.manifest(3)
    assert(v3.files.map(_.path).toSet.subsetOf(v2.files.map(_.path).toSet),
      "the retention cut must be metadata-only (no file written)")
    assert(v2.files.exists(e => e.dvPath.isDefined &&
      !v3.files.exists(_.path == e.path)),
      "a DV'd file must be among the dropped ones for this test to bite")
    // BATCH feed across the mixed range: v3's deletes come from the
    // dropped files themselves, with each file's parent DV subtracted —
    // id=2 was already dead at v2 and must NOT re-emit at v3
    val got = spark.read.format("graft").option("readChangeFeed", "true")
      .load(dir + "/src")
      .filter($"_commit_version" === 3)
      .select("id", "_change_type")
      .as[(Long, String)].collect().toSet
    assert(got == ((1L to 10L).toSet - 2L).map(_ -> "delete"), got)
    // STREAMING feed sees the identical change set (row-mode handshake)
    val sink = "gstream_mdel_cdf"
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").load(dir + "/src")
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", dir + "/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table(sink)
      .filter($"_commit_version" === 3)
      .select("id", "_change_type")
      .as[(Long, String)].collect().toSet
    assert(streamed == got, streamed)
    // feed totals across the whole range stay exact
    val all = spark.table(sink).groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(all == Map("insert" -> 20L, "delete" -> 10L), all.toString)
  }

  test("readChangeFeed on a non-CDF table fails loudly at a rewrite") {
    val dir = tmpDir("gstream")
    val t = CowTable(spark, dir + "/src", TableConfig("t", Seq("id")))
    t.create(rows(1, 5))
    t.upsert(Seq((3L, "NEW3", 0.0)).toDF("id", "name", "v")) // rewrite
    val e = intercept[StreamingQueryException] {
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true").load(dir + "/src")
        .writeStream.format("memory").queryName("gstream_cdf_fail")
        .option("checkpointLocation", dir + "/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msg.contains("changeDataFeed"), msg)
  }

  test("batch readChangeFeed serves a create as its insert load") {
    // (full batch-CDF behavior — windows, API parity, rewrite rejection —
    // is pinned in ChangeDataFeedSpec; this pins the plain-append shape
    // through the same partitions the streaming source uses)
    val dir = tmpDir("gstream")
    CowTable(spark, dir + "/src", TableConfig("t", Seq("id")))
      .create(rows(1, 3))
    val got = spark.read.format("graft").option("readChangeFeed", "true")
      .load(dir + "/src")
      .select("id", "_commit_version", "_change_type")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got == Set((1L, 1, "insert"), (2L, 1, "insert"),
      (3L, 1, "insert")), got)
  }

  test("file skipping applies when bounds reach the stream (API path)") {
    val dir = tmpDir("gstream")
    val cfg = TableConfig("t", Seq("id"), partitionKey = Some("seg"))
    val t = CowTable(spark, dir + "/src", cfg)
    t.create(Seq((1L, "A", 1.0), (2L, "B", 2.0)).toDF("id", "seg", "v"))
    t.upsert(Seq((3L, "A", 3.0), (4L, "B", 4.0)).toDF("id", "seg", "v"))
    val stream = new GraftMicroBatchStream(
      java.nio.file.Paths.get(dir + "/src"),
      t.read().schema, columnar = true,
      pred = FilePredicate(t.manifest(t.currentVersion), t.read().schema,
        Seq(org.apache.spark.sql.sources.EqualTo("seg", "A"))),
      GraftStreamOptions())
    val parts = stream.planInputPartitions(GraftOffset(0), GraftOffset(2))
    // hive layout: one file per seg per commit; only seg=A files planned
    assert(parts.length == 2, parts.mkString(", "))
    assert(parts.collect { case p: GraftInputPartition => p }
      .forall(_.partitionValues.get("seg").contains("A")))
  }

  test("micro-batches prune with the full per-file evaluator; a consumed " +
      "partition filter still fails loud on a pathless file") {
    import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, LessThan}
    val dir = tmpDir("gstream")
    val root = dir + "/src"
    val t = CowTable(spark, root, TableConfig("t", Seq("id"),
      partitionSpec = Some("day(ts)"), statsColumns = Seq("v")))
    // four append commits, one day each: day d holds v in (10d, 10d+20]
    def day(d: Int) = (1 to 20).map(i => (d * 100L + i,
      java.sql.Timestamp.valueOf(f"2024-05-$d%02d 10:00:00"), d * 10.0 + i))
      .toDF("id", "ts", "v")
    t.create(day(1)); (2 to 4).foreach(d => t.upsert(day(d)))
    def planned(filters: Filter*): Seq[String] = {
      val m = t.manifest(t.currentVersion)
      val b = new GraftScanBuilder(java.nio.file.Paths.get(root), m,
        CowTable.structFromJson(m.schemaJson))
      b.pushFilters(filters.toArray)
      b.build().toMicroBatchStream(dir + "/ckpt")
        .planInputPartitions(GraftOffset(0), GraftOffset(t.currentVersion))
        .collect { case p: GraftInputPartition => p.filePath }.toSeq
    }
    // transform source (day 1 out) AND statsColumns range (day 4 out)
    val filters = Seq[Filter](
      GreaterThanOrEqual("ts",
        java.sql.Timestamp.valueOf("2024-05-02 00:00:00")),
      LessThan("v", 35.0))
    val all = planned()
    val kept = planned(filters: _*)
    assert(kept.size < all.size && kept.nonEmpty, (kept, all))
    val cond = col("ts") >= lit("2024-05-02 00:00:00").cast("timestamp") &&
      col("v") < 35.0
    val got = spark.read.parquet(kept: _*).filter(cond).select("id")
      .as[Long].collect().toSet
    val want = spark.read.format("graft").load(root).filter(cond)
      .select("id").as[Long].collect().toSet
    assert(got == want && want.nonEmpty, (got, want))

    // a consumed `seg = 'A'` (every file pathed at plan time), then the
    // spec evolves: the next batch's file has no seg= value to check
    val root2 = dir + "/src2"
    val t2 = CowTable(spark, root2,
      TableConfig("t2", Seq("id"), partitionKey = Some("seg")))
    t2.create(Seq((1L, "A", java.sql.Timestamp.valueOf("2024-05-01 10:00:00")))
      .toDF("id", "seg", "ts"))
    val s2 = {
      val m2 = t2.manifest(t2.currentVersion)
      val b = new GraftScanBuilder(java.nio.file.Paths.get(root2), m2,
        CowTable.structFromJson(m2.schemaJson))
      val residual = b.pushFilters(Array(EqualTo("seg", "A")))
      assert(residual.isEmpty, "the partition filter must be consumed")
      b.build().toMicroBatchStream(dir + "/ckpt2")
    }
    val t2e = t2.alterPartitionSpec(Some("day(ts)"))
    t2e.upsert(Seq((2L, "A", java.sql.Timestamp.valueOf(
      "2024-05-02 10:00:00"))).toDF("id", "seg", "ts"))
    val e = intercept[IllegalStateException](
      s2.planInputPartitions(GraftOffset(0), GraftOffset(t2e.currentVersion)))
    assert(e.getMessage.contains("without a path-borne partition value"),
      e.getMessage)
  }
}
