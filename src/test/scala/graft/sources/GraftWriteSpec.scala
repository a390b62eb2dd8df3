package graft.sources

import graft.SparkSpec
import graft.storage.{ConcurrentWriteException, CowTable, TableConfig}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.write.PhysicalWriteInfo
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class GraftWriteSpec extends SparkSpec {
  import spark.implicits._

  private def mixedDf = Seq(
    (1L, "alpha", 1.5, "2024-01-01 10:00:00", "10.25", true),
    (2L, "beta", -2.5, "2024-02-01 11:30:00", "-3.50", false),
    (3L, null.asInstanceOf[String], 0.0, null.asInstanceOf[String],
      null.asInstanceOf[String], true))
    .toDF("id", "name", "x", "ts_s", "amt_s", "flag")
    .select($"id", $"name", $"x", $"ts_s".cast("timestamp").as("ts"),
      $"amt_s".cast("decimal(10,2)").as("amt"), $"flag")

  test("mode(append).save appends a new COW version; read-back exact") {
    val dir = tmpDir("dsv2w") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    t.create((1L to 100L).map(i => (i, s"n$i")).toDF("id", "name"))
    (101L to 120L).map(i => (i, s"n$i")).toDF("id", "name")
      .write.format("graft").mode("append").save(dir)
    assert(t.currentVersion == 2)
    // read through BOTH paths: the connector and the vectorized API
    val expect = (1L to 120L).map(i => (i, s"n$i")).toSet
    assert(spark.read.format("graft").load(dir)
      .as[(Long, String)].collect().toSet == expect)
    assert(t.read().as[(Long, String)].collect().toSet == expect)
    // the appended files carry footer key stats → future merges can prune
    val fresh = t.manifest(2).files.filterNot(
      t.manifest(1).files.map(_.path).toSet contains _.path)
    assert(fresh.nonEmpty && fresh.forall(f =>
      f.minKey.isDefined && f.maxKey.isDefined))
    assert(fresh.flatMap(_.minKey).map(BigDecimal(_)).min == BigDecimal(101))
  }

  test("a decimal-keyed append records every file's on-disk size") {
    val dir = tmpDir("dsv2w") + "/t"
    def rows(ids: Range) = ids.map(i => (s"$i.25", s"n$i")).toDF("k_s", "name")
      .select($"k_s".cast("decimal(10,2)").as("k"), $"name")
    val t = CowTable(spark, dir, TableConfig("t", Seq("k")))
    t.create(rows(1 to 50))
    // decimal keys take the stat-less listed-files path (unscaled footers)
    rows(51 to 80).repartition(2).write.format("graft").mode("append")
      .save(dir)
    val files = t.manifest(t.currentVersion).files
    assert(files.size >= 2, files)
    files.foreach(f => assert(
      f.bytes == java.nio.file.Files.size(java.nio.file.Paths.get(dir, f.path)),
      s"${f.path}: bytes=${f.bytes}"))
    assert(spark.read.format("graft").load(dir).count() == 80L)
  }

  test("mode(overwrite).save truncates: new snapshot replaces the old") {
    val dir = tmpDir("dsv2w") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    t.create((1L to 50L).map(i => (i, s"old$i")).toDF("id", "name"))
    Seq((7L, "fresh")).toDF("id", "name")
      .write.format("graft").mode("overwrite").save(dir)
    assert(t.currentVersion == 2)
    assert(t.read().as[(Long, String)].collect().toSeq == Seq((7L, "fresh")))
    // time travel still reaches the pre-overwrite snapshot (COW)
    assert(t.readVersion(1).count() == 50)
  }

  test("first write CREATES the table (primaryKey option respected)") {
    val dir = tmpDir("dsv2w") + "/t"
    (1L to 30L).map(i => (i, s"n$i")).toDF("id", "name")
      .write.format("graft").option("primaryKey", "id").mode("append")
      .save(dir)
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    assert(t.currentVersion == 1)
    assert(t.manifest(1).primaryKey == Seq("id"))
    assert(t.manifest(1).rowCount == 30)
    assert(t.read().count() == 30)
  }

  test("SQL surface: INSERT INTO / INSERT OVERWRITE a USING graft table") {
    val dir = tmpDir("dsv2w") + "/t"
    CowTable(spark, dir, TableConfig("t", Seq("id")))
      .create(Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    spark.sql("DROP TABLE IF EXISTS graft_w_sql")
    try {
      spark.sql(s"CREATE TABLE graft_w_sql USING graft LOCATION '$dir'")
      spark.sql("INSERT INTO graft_w_sql VALUES (3, 'c'), (4, 'd')")
      assert(spark.sql("SELECT * FROM graft_w_sql").as[(Long, String)]
        .collect().toSet ==
        Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
      spark.sql("INSERT OVERWRITE graft_w_sql VALUES (9, 'z')")
      assert(spark.sql("SELECT * FROM graft_w_sql").as[(Long, String)]
        .collect().toSeq == Seq((9L, "z")))
    } finally spark.sql("DROP TABLE IF EXISTS graft_w_sql")
  }

  test("every primitive type incl. nulls round-trips through the writer") {
    val dir = tmpDir("dsv2w") + "/t"
    mixedDf.write.format("graft").option("primaryKey", "id")
      .mode("append").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.schema == mixedDf.schema)
    assert(back.exceptAll(mixedDf).isEmpty && mixedDf.exceptAll(back).isEmpty,
      s"mismatch:\n${back.collect().mkString("\n")}")
    // and through the vectorized path too
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    assert(t.read().exceptAll(mixedDf).isEmpty)
  }

  test("DSv2 writes are HIVE-PARTITIONED: INSERT-built tables prune") {
    val dir = tmpDir("dsv2w") + "/t"
    // table built ENTIRELY through the connector (no API writes)
    (1L to 90L).map(i => (i, s"s${i % 3}", i * 1.0)).toDF("id", "seg", "v")
      .write.format("graft").option("primaryKey", "id")
      .option("partitionKey", "seg").mode("append").save(dir)
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionKey = Some("seg")))
    // files live in hive dirs, partition column not stored physically
    val m = t.manifest(1)
    assert(m.partitionKey.contains("seg"))
    assert(m.files.nonEmpty && m.files.forall(_.path.contains("seg=s")),
      m.files.map(_.path).mkString(","))
    val onePath = t.root.resolve(m.files.head.path)
    val pf = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(onePath.toUri),
        new org.apache.hadoop.conf.Configuration()))
    try assert(!pf.getFooter.getFileMetaData.getSchema.getFields.toString
      .contains("seg"))
    finally pf.close()
    // clustering: one file per partition value (not per value per task)
    assert(m.files.size == 3, m.files.map(_.path).mkString(","))
    // planning-time partition pruning now applies to connector-written files
    val scan = spark.read.format("graft").load(dir).filter($"seg" === "s1")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("files=1/3"), s"expected partition skip in:\n$plan")
    assert(scan.count() == 30)
    // and both read paths agree on the reconstructed partition values
    assert(spark.read.format("graft").load(dir)
      .as[(Long, String, Double)].collect().toSet ==
      (1L to 90L).map(i => (i, s"s${i % 3}", i * 1.0)).toSet)
    assert(t.read().as[(Long, String, Double)].collect().toSet ==
      (1L to 90L).map(i => (i, s"s${i % 3}", i * 1.0)).toSet)
  }

  test("static INSERT OVERWRITE PARTITION replaces exactly that hive dir") {
    val lake = tmpDir("dsv2w")
    val dir = lake + "/t"
    (1L to 90L).map(i => (i, s"s${i % 3}", i * 1.0)).toDF("id", "seg", "v")
      .write.format("graft").option("primaryKey", "id")
      .option("partitionKey", "seg").mode("append").save(dir)
    val sess = spark.newSession()
    sess.conf.set("spark.sql.catalog.owl", "graft.sources.GraftCatalog")
    sess.conf.set("spark.sql.catalog.owl.warehouse", lake)
    graft.storage.LakeRegistry.register(lake,
      TableConfig("t", Seq("id"), partitionKey = Some("seg")), dir)
    sess.sql(
      """INSERT OVERWRITE owl.default.t PARTITION (seg = 's1')
        |SELECT id, 99.0 AS v FROM range(1000, 1005)
        |""".stripMargin)
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionKey = Some("seg")))
    val got = t.read().as[(Long, String, Double)].collect().toSet
    val expect = (1L to 90L).filterNot(_ % 3 == 1)
      .map(i => (i, s"s${i % 3}", i * 1.0)).toSet ++
      (1000L to 1004L).map(i => (i, "s1", 99.0))
    assert(got == expect)
    // s0/s2 data files carried over untouched (no rewrite outside scope)
    val before = t.manifest(1).files.filter(_.path.contains("seg=s0"))
      .map(_.path).toSet
    val after = t.manifest(t.currentVersion).files
      .filter(_.path.contains("seg=s0")).map(_.path).toSet
    assert(before == after, "out-of-scope partitions must carry over")
  }

  test("dynamic partitionOverwriteMode replaces only written partitions") {
    val lake = tmpDir("dsv2w")
    val dir = lake + "/t"
    (1L to 90L).map(i => (i, s"s${i % 3}", i * 1.0)).toDF("id", "seg", "v")
      .write.format("graft").option("primaryKey", "id")
      .option("partitionKey", "seg").mode("append").save(dir)
    val sess = spark.newSession()
    sess.conf.set("spark.sql.catalog.dyn", "graft.sources.GraftCatalog")
    sess.conf.set("spark.sql.catalog.dyn.warehouse", lake)
    graft.storage.LakeRegistry.register(lake,
      TableConfig("t", Seq("id"), partitionKey = Some("seg")), dir)
    // explicit dynamic overwrite: replace exactly the partitions present
    // in the written frame (s1+s2); s0 must survive untouched
    sess.sql(
      """SELECT CAST(id AS BIGINT) AS id, seg, v
        |FROM VALUES (200, 's1', 1.5D), (201, 's2', 2.5D) AS t(id, seg, v)
        |""".stripMargin)
      .writeTo("dyn.default.t").overwritePartitions()
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionKey = Some("seg")))
    val got = t.read().as[(Long, String, Double)].collect().toSet
    val expect = (1L to 90L).filter(_ % 3 == 0)
      .map(i => (i, "s0", i * 1.0)).toSet ++
      Set((200L, "s1", 1.5), (201L, "s2", 2.5))
    assert(got == expect)
  }

  test("partition values escape hive-hostile characters and null") {
    val dir = tmpDir("dsv2w") + "/t"
    val df = Seq((1L, "a/b"), (2L, "a b"), (3L, "a=b"), (4L, null))
      .map { case (i, s) => (i, Option(s)) }.toDF("id", "seg")
    df.write.format("graft").option("primaryKey", "id")
      .option("partitionKey", "seg").mode("append").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.as[(Long, Option[String])].collect().toSet ==
      Set((1L, Some("a/b")), (2L, Some("a b")), (3L, Some("a=b")),
        (4L, None)))
    // the API read path round-trips the same layout
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionKey = Some("seg")))
    assert(t.read().as[(Long, Option[String])].collect().toSet ==
      back.as[(Long, Option[String])].collect().toSet)
  }

  test("row-level SQL mutations keep the hive layout on partitioned tables") {
    val dir = tmpDir("dsv2w") + "/t"
    CowTable(spark, dir,
      TableConfig("t", Seq("id"), partitionKey = Some("seg")))
      .create((1L to 60L).map(i => (i, s"s${i % 3}", 0.0))
        .toDF("id", "seg", "v"))
    spark.sql("DROP TABLE IF EXISTS graft_w_part")
    try {
      spark.sql(s"CREATE TABLE graft_w_part USING graft LOCATION '$dir'")
      spark.sql("UPDATE graft_w_part SET v = 1.0 WHERE id <= 30")
      val t = CowTable(spark, dir,
        TableConfig("t", Seq("id"), partitionKey = Some("seg")))
      val m = t.manifest(t.currentVersion)
      assert(m.files.forall(_.path.contains("seg=s")),
        m.files.map(_.path).mkString(","))
      // pruning still applies after the SQL rewrite
      val scan = spark.read.format("graft").load(dir).filter($"seg" === "s0")
      assert(scan.queryExecution.executedPlan.toString.contains("files="))
      assert(spark.sql(
        "SELECT sum(v) FROM graft_w_part").as[Double].collect().head == 30.0)
    } finally spark.sql("DROP TABLE IF EXISTS graft_w_part")
  }

  test("schema evolution: SQL writes pin the table schema, API path evolves") {
    val dir = tmpDir("dsv2w") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    t.create(Seq((1L, "a")).toDF("id", "name"))
    // a WIDER source through SQL is rejected LOUDLY at analysis (the DSv2
    // write pins the table schema — evolution is the API path's job); Spark
    // names the problem, the table is untouched
    val e = intercept[Exception] {
      Seq((2L, "b", "extra")).toDF("id", "name", "tag")
        .write.format("graft").mode("append").save(dir)
    }
    assert(e.getMessage != null &&
      (e.getMessage.contains("too many data columns") ||
        e.getMessage.contains("TOO_MANY_DATA_COLUMNS")), e.getMessage)
    assert(t.currentVersion == 1)
    // the API path evolves (lossless widening + null-fill)...
    t.upsert(Seq((2L, "b", "fresh")).toDF("id", "name", "tag"))
    // ...and the SQL surface immediately sees and writes the evolved schema
    assert(spark.read.format("graft").load(dir).columns.toSeq ==
      Seq("id", "name", "tag"))
    Seq((3L, "c", "t3")).toDF("id", "name", "tag")
      .write.format("graft").mode("append").save(dir)
    assert(spark.read.format("graft").load(dir)
      .as[(Long, String, Option[String])].collect().toSet ==
      Set((1L, "a", None), (2L, "b", Some("fresh")), (3L, "c", Some("t3"))))
    // store-assignment widening INTO the pinned schema still works (int
    // source values into a bigint column — Spark casts, the writer never
    // sees a mismatch)
    spark.sql("DROP TABLE IF EXISTS graft_evo")
    try {
      spark.sql(s"CREATE TABLE graft_evo USING graft LOCATION '$dir'")
      spark.sql("INSERT INTO graft_evo VALUES (4, 'd', 't4')")
      assert(spark.sql("SELECT count(*) FROM graft_evo")
        .as[Long].collect().head == 4L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_evo")
  }

  test("two concurrent DSv2 appends: loser rebases onto the winner") {
    val dir = tmpDir("dsv2w") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    t.create(Seq((1L, "base")).toDF("id", "name"))
    val schema = t.read().schema
    // two writes planned against the SAME parent version, as two racing
    // jobs would be; drive the writer protocol directly for a
    // deterministic interleaving (data written first, commits ordered here)
    def plannedWrite(tag: String)
        : (GraftBatchWrite,
           org.apache.spark.sql.connector.write.WriterCommitMessage) = {
      val bw = new GraftBatchWrite(java.nio.file.Paths.get(dir), 1,
        schema, schema, Seq("id"), None, overwrite = false)
      val w = bw.createBatchWriterFactory(
        new PhysicalWriteInfo { override def numPartitions(): Int = 1 })
        .createWriter(0, 0L)
      w.write(new GenericInternalRow(
        Array[Any](99L, UTF8String.fromString(tag))))
      (bw, w.commit())
    }
    val (a, aMsg) = plannedWrite("writer-a")
    val (b, bMsg) = plannedWrite("writer-b")
    a.commit(Array(aMsg)) // writer A wins version 2
    b.commit(Array(bMsg)) // writer B REBASES onto it (blind append)
    assert(t.currentVersion == 3)
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "base"), (99L, "writer-a"), (99L, "writer-b")),
      "both appends must land, in CAS order")
  }

  test("partition values with '+' round-trip and prune correctly") {
    val dir = tmpDir("dsv2w") + "/t"
    Seq((1L, "a+b"), (2L, "c d"), (3L, "x%y")).toDF("id", "seg")
      .write.format("graft").mode("append").option("primaryKey", "id")
      .option("partitionKey", "seg").save(dir)
    val back = spark.read.format("graft").load(dir)
    assert(back.select("seg").as[String].collect().toSet ==
      Set("a+b", "c d", "x%y"))
    // the pushed partition filter must MATCH the file, not prune it away
    val hit = back.filter($"seg" === "a+b")
    assert(hit.count() == 1L, hit.queryExecution.executedPlan.toString)
  }

  test("DSv2 writes inherit manifest-stored table properties") {
    val dir = tmpDir("dsv2w") + "/t"
    val t = CowTable(spark, dir,
      TableConfig("t", Seq("id"), statsColumns = Seq("w"),
        changeDataFeed = true))
    t.create(Seq((1L, 10L), (2L, 20L)).toDF("id", "w"))
    // a connector write opened from the ROOT alone must keep collecting
    // the declared statsColumns (it reads the config from the manifest)
    spark.sql(s"DROP TABLE IF EXISTS props_t")
    spark.sql(s"CREATE TABLE props_t USING graft LOCATION '$dir'")
    spark.sql("INSERT INTO props_t VALUES (3, 30)")
    spark.sql("DROP TABLE props_t")
    val m = t.manifest(t.currentVersion)
    assert(m.changeDataFeed && m.statsColumns == Seq("w"), m)
    val inserted = m.files.filterNot(t.manifest(1).files.contains)
    assert(inserted.nonEmpty && inserted.forall(_.extra.contains("w")),
      inserted)
  }

  test("racing OVERWRITES stay single-winner (no append rebase)") {
    val dir = tmpDir("dsv2w") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    t.create(Seq((1L, "base")).toDF("id", "name"))
    val schema = t.read().schema
    def plannedOverwrite(tag: String)
        : (GraftBatchWrite,
           org.apache.spark.sql.connector.write.WriterCommitMessage) = {
      val bw = new GraftBatchWrite(java.nio.file.Paths.get(dir), 1,
        schema, schema, Seq("id"), None, overwrite = true)
      val w = bw.createBatchWriterFactory(
        new PhysicalWriteInfo { override def numPartitions(): Int = 1 })
        .createWriter(0, 0L)
      w.write(new GenericInternalRow(
        Array[Any](99L, UTF8String.fromString(tag))))
      (bw, w.commit())
    }
    val (a, aMsg) = plannedOverwrite("over-a")
    val (b, bMsg) = plannedOverwrite("over-b")
    a.commit(Array(aMsg))
    val e = intercept[ConcurrentWriteException] { b.commit(Array(bMsg)) }
    assert(e.getMessage.contains("concurrent"))
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((99L, "over-a")))

    // the loser's never-committed version dir is an ORPHAN on disk — a
    // busy table would leak storage without a sweep. vacuum collects it
    // (age guard relaxed for the test) and every read stays green.
    def verDirs() = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .filter(p => java.nio.file.Files.isDirectory(p) &&
            p.getFileName.toString.matches("v\\d+-.*"))
          .map(_.getFileName.toString).toSet
      } finally s.close()
    }
    assert(verDirs().size == 3, verDirs()) // create + winner + loser orphan
    val swept = t.vacuum(retainLast = 10, orphanOlderThanMs = 0L)
    assert(swept.size == 1, swept)
    assert(verDirs().size == 2, verDirs())
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((99L, "over-a")))
    assert(t.readVersion(1).count() == 1) // retained history still readable
    // the winner's commit is untouched by a SECOND sweep (idempotent)
    assert(t.vacuum(retainLast = 10, orphanOlderThanMs = 0L).isEmpty)
  }

  test("writeStream sink: per-epoch CAS commits, exactly-once on replay") {
    import org.apache.spark.sql.streaming.Trigger
    val base = tmpDir("dsv2s")
    val src = base + "/src"
    (1L to 60L).map(i => (i, s"n$i")).toDF("id", "name").repartition(2)
      .write.parquet(src)
    val schema = spark.read.parquet(src).schema
    val dir = base + "/t"
    def drain(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.format("graft")
        .option("path", dir).option("primaryKey", "id")
        .option("checkpointLocation", base + "/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    // one commit per micro-batch epoch (2 source files, 1 per trigger)
    assert(t.currentVersion == 2, s"got v${t.currentVersion}")
    assert(t.read().as[(Long, String)].collect().toSet ==
      (1L to 60L).map(i => (i, s"n$i")).toSet)
    val m = t.manifest(2)
    assert(m.streamQueryId.isDefined && m.streamEpochId.contains(1L), m.toString)
    // checkpointed restart: nothing new to process, no new commits
    drain()
    assert(t.currentVersion == 2)
    // recovery replay of an already-applied epoch: exactly-once no-op
    val sw = new GraftStreamingWrite(java.nio.file.Paths.get(dir), schema,
      Seq("id"), None, m.streamQueryId.get)
    sw.commit(m.streamEpochId.get, Array(GraftCommitMessage(Nil)))
    assert(t.currentVersion == 2)
    // and the files carry key stats like every other write path's
    assert(m.files.forall(f => f.minKey.isDefined && f.maxKey.isDefined))
  }

  test("writes through a time-travel handle are rejected loudly") {
    val dir = tmpDir("dsv2w") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id")))
    t.create(Seq((1L, "a")).toDF("id", "name"))
    t.upsert(Seq((1L, "b")).toDF("id", "name"))
    val e = intercept[Exception] {
      Seq((2L, "x")).toDF("id", "name").write.format("graft")
        .option("versionAsOf", "1").mode("append").save(dir)
    }
    assert(e.getMessage.contains("time-travel"), e.getMessage)
  }

  test("nested columns are rejected loudly at write planning") {
    val dir = tmpDir("dsv2w") + "/t"
    val e = intercept[Exception] {
      Seq((1L, Seq(1.0f))).toDF("id", "emb")
        .write.format("graft").mode("append").save(dir)
    }
    assert(e.getMessage != null && e.getMessage.contains("emb"),
      String.valueOf(e.getMessage))
  }
}
