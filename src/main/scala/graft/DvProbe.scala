package graft

import graft.core.SessionTuning
import graft.storage.{CowTable, TableConfig}
import org.apache.spark.sql.functions._

/** Empirical probe for DELETION VECTORS (companion of [[ScaleProbe]]):
  * the case DVs exist for is a SMALL delete SCATTERED across many files —
  * copy-on-write must rewrite every touched file (O(touched bytes)), a DV
  * commit writes one position sidecar (O(matched rows)). Build the
  * range-clustered lineitem table at three scales, delete 500 keys spread
  * uniformly across the whole key range, and measure both modes plus the
  * read-side subtraction tax and the purge that retires it.
  *
  * The 100 TB claim: COW delete cost grows with scale (more files
  * touched, each a full rewrite); DV delete cost stays ~flat; reads pay a
  * bounded anti-join until purge folds the vectors away.
  *
  * Run manually (NOT part of the driver contract):
  * {{{
  * sbt "runMain graft.DvProbe /tmp/dvprobe"
  * }}}
  * Prints one JSON line per scale.
  */
object DvProbe {
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/dvprobe")
    val spark = SessionTuning.builder(defaultCpus = 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF1", "/root/testdata/sf0.1")
    def lineitem = spark.read.parquet(s"$sf01/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    def rep(n: Int) = (0 until n).map { i =>
      lineitem.withColumn("l_orderkey",
        $"l_orderkey" + lit(i.toLong * 100000000L))
    }.reduce(_ unionByName _)

    val scales = Seq(
      ("sf0.1", 1, 32), ("sf0.1x8", 8, 256), ("sf0.1x32", 32, 1024))

    for ((name, n, nParts) <- scales) {
      val root = s"$out/$name"
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val df = (if (n == 1) lineitem else rep(n))
        .repartitionByRange(nParts, $"l_orderkey")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

      // 500 scattered (orderkey, linenumber) keys, uniform over the range
      val keys = df.select("l_orderkey", "l_linenumber")
        .withColumn("__h", abs(xxhash64($"l_orderkey", $"l_linenumber")))
        .orderBy("__h").limit(500).drop("__h")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      keys.count()

      def freshBytes(t: CowTable, v: Int): (Int, Long) = {
        val prev = t.manifest(v - 1).files.map(_.path).toSet
        val fresh = t.manifest(v).files.filterNot(f => prev(f.path))
        (fresh.size, fresh.map(_.bytes).sum)
      }

      // COW mode
      val cow = CowTable(spark, s"$root/cow",
        TableConfig("cow", Seq("l_orderkey", "l_linenumber")))
      cow.create(df)
      val (_, tCowDel) = time { cow.delete(keys) }
      val (cowFiles, cowBytes) = freshBytes(cow, cow.currentVersion)
      val (cowCount, tCowRead) = time { cow.read().count() }

      // DV mode
      val dv = CowTable(spark, s"$root/dv",
        TableConfig("dv", Seq("l_orderkey", "l_linenumber"),
          changeDataFeed = true, deletionVectors = true))
      dv.create(df)
      val (_, tDvDel) = time { dv.delete(keys) }
      val m = dv.manifest(dv.currentVersion)
      val dvTouched = m.files.count(_.dvPath.isDefined)
      val dvSidecarBytes = m.files.flatMap(_.dvPath).distinct.map { p =>
        val dir = java.nio.file.Paths.get(s"$root/dv").resolve(p)
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(java.nio.file.Files.walk(dir))(
          _.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size).sum)
      }.sum
      val (dvCount, tDvRead) = time { dv.read().count() }
      require(dvCount == cowCount,
        s"DV/COW divergence: $dvCount vs $cowCount")

      // MOR upsert: update the SAME scattered keys (worst COW case — every
      // touched file rewritten vs positions + one appended batch file)
      // batch = the matched rows with a bumped quantity (types, incl. the
      // NTZ shipdate, stay exactly the table's)
      val batch = df.join(keys, Seq("l_orderkey", "l_linenumber"), "left_semi")
        .withColumn("l_quantity", lit(99.0))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
      val (_, tCowUp) = time { cow.upsert(batch) }
      val (cowUpFiles, cowUpBytes) = freshBytes(cow, cow.currentVersion)
      val (_, tDvUp) = time { dv.upsert(batch) }
      val (dvUpFiles, dvUpBytes) = freshBytes(dv, dv.currentVersion)
      val dvUpSidecar = dv.manifest(dv.currentVersion).files
        .flatMap(_.dvPath).distinct.map { p =>
          val dir = java.nio.file.Paths.get(s"$root/dv").resolve(p)
          import scala.jdk.CollectionConverters._
          scala.util.Using.resource(java.nio.file.Files.walk(dir))(
            _.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
              .map(java.nio.file.Files.size).sum)
        }.sum
      require(dv.read().count() == cow.read().count(),
        "post-upsert DV/COW divergence")

      val (_, tPurge) = time { dv.purgeDeletionVectors() }
      val (_, tPostPurgeRead) = time { dv.read().count() }

      println(s"""{"probe":"dv","scale":"$name","rows":${df.count()},""" +
        s""""files":${cow.manifest(1).files.size},""" +
        s""""cow_delete_sec":${f"$tCowDel%.2f"},""" +
        s""""cow_files_rewritten":$cowFiles,"cow_bytes":$cowBytes,""" +
        s""""dv_delete_sec":${f"$tDvDel%.2f"},""" +
        s""""dv_files_touched":$dvTouched,""" +
        s""""dv_sidecar_bytes":$dvSidecarBytes,""" +
        s""""cow_read_sec":${f"$tCowRead%.2f"},""" +
        s""""dv_read_sec":${f"$tDvRead%.2f"},""" +
        s""""cow_upsert_sec":${f"$tCowUp%.2f"},""" +
        s""""cow_upsert_files":$cowUpFiles,"cow_upsert_bytes":$cowUpBytes,""" +
        s""""dv_upsert_sec":${f"$tDvUp%.2f"},""" +
        s""""dv_upsert_files":$dvUpFiles,"dv_upsert_bytes":$dvUpBytes,""" +
        s""""dv_upsert_sidecar_bytes":$dvUpSidecar,""" +
        s""""purge_sec":${f"$tPurge%.2f"},""" +
        s""""post_purge_read_sec":${f"$tPostPurgeRead%.2f"}}""")
      df.unpersist(blocking = false)
      keys.unpersist(blocking = false)
    }
    spark.stop()
  }
}
