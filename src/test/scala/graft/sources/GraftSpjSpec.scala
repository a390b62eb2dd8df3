package graft.sources

import graft.SparkSpec
import graft.storage.{CowTable, TableConfig}
import org.apache.spark.sql.SparkSession

class GraftSpjSpec extends SparkSpec {

  private def mkTables(dir: String): Unit = {
    import spark.implicits._
    CowTable(spark, dir + "/a",
      TableConfig("a", Seq("id"), partitionKey = Some("seg"))).create(
      (1L to 200L).map(i => (i, s"seg${i % 5}", i * 1.0)).toDF("id", "seg", "x"))
    CowTable(spark, dir + "/b",
      TableConfig("b", Seq("k"), partitionKey = Some("seg"))).create(
      (1L to 50L).map(i => (i, s"seg${i % 5}", s"n$i")).toDF("k", "seg", "nm"))
  }

  private def spjSession(): SparkSession = {
    val sess = spark.newSession()
    sess.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess
  }

  test("co-partitioned graft tables join with zero shuffle (SPJ)") {
    val dir = tmpDir("spj")
    mkTables(dir)
    val sess = spjSession()
    val a = sess.read.format("graft").load(dir + "/a")
    val b = sess.read.format("graft").load(dir + "/b")
    val j = a.join(b, "seg")
    assert(j.count() == 200L * 10) // each a-row meets its seg's 10 b-rows
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("grouping is OFF without the bucketing conf (parallelism preserved)") {
    val dir = tmpDir("spj")
    mkTables(dir)
    // default session: one input partition per FILE, not per value
    val scan = spark.read.format("graft").load(dir + "/a")
    val parts = scan.rdd.getNumPartitions
    assert(parts >= 5, s"expected per-file partitions, got $parts")
    assert(scan.count() == 200L)
  }

  test("grouped scans return the same rows (concat reader, both modes)") {
    val dir = tmpDir("spj")
    mkTables(dir)
    val sess = spjSession()
    import sess.implicits._
    val grouped = sess.read.format("graft").load(dir + "/a")
      .as[(Long, String, Double)].collect().toSet
    val plain = {
      val s2 = spark.newSession()
      import s2.implicits._
      s2.read.format("graft").load(dir + "/a")
        .as[(Long, String, Double)].collect().toSet
    }
    assert(grouped == plain && grouped.size == 200)
    // row-oriented fallback through the same grouped partitions
    val rows = sess.read.format("graft").option("columnar", "false")
      .load(dir + "/a").as[(Long, String, Double)].collect().toSet
    assert(rows == plain)
  }

  test("runtime filtering preserves the advertised group count (empty groups)") {
    // BatchScanExec demands the source "preserve the original partitioning
    // during runtime filtering": a runtime filter that drops every file of
    // one partition value must yield an EMPTY group, not a shorter list
    import org.apache.spark.sql.connector.expressions.{Expressions, Literal => V2Literal}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val dir = tmpDir("spj")
    mkTables(dir)
    val sess = spjSession()
    SparkSession.setActiveSession(sess)
    try {
      val t = CowTable(sess, dir + "/a",
        TableConfig("a", Seq("id"), partitionKey = Some("seg")))
      val m = t.manifest(t.currentVersion)
      val scan = new GraftScan(
        java.nio.file.Paths.get(dir + "/a"), m, t.read().schema,
        FilePredicate(m, t.read().schema, Nil))
      val advertised = scan.outputPartitioning() match {
        case k: org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning => k.numPartitions()
        case p => fail(s"expected KeyGroupedPartitioning, got $p")
      }
      assert(advertised == 5)
      val segLit = new V2Literal[org.apache.spark.unsafe.types.UTF8String] {
        override def value() =
          org.apache.spark.unsafe.types.UTF8String.fromString("seg3")
        override def dataType() = org.apache.spark.sql.types.StringType
      }
      scan.filter(Array(new Predicate("=",
        Array(Expressions.column("seg"), segLit))))
      val parts = scan.planInputPartitions()
      assert(parts.length == advertised,
        s"group count changed under runtime filtering: ${parts.length}")
      val groups = parts.collect { case g: GraftGroupedPartition => g }
      assert(groups.count(_.files.nonEmpty) == 1,
        groups.map(g => g.partitionValues -> g.files.size).toSeq.toString)
    } finally SparkSession.setActiveSession(spark)
  }

  test("DPP join over a grouped scan stays correct (no partitioning error)") {
    val dir = tmpDir("spj")
    mkTables(dir)
    val sess = spark.newSession()
    sess.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    import sess.implicits._
    // storage-backed dim: a Seq-backed one constant-folds and leaves no
    // selective predicate for the dynamic-pruning subquery
    (0 until 5).map(i => (s"seg$i", s"d$i")).toDF("seg2", "label")
      .write.mode("overwrite").parquet(dir + "/dim")
    val dim = sess.read.parquet(dir + "/dim").filter($"label" === "d3")
    val j = sess.read.format("graft").load(dir + "/a")
      .join(dim, $"seg" === $"seg2")
    val planned = j.queryExecution.executedPlan.toString
    assert(planned.toLowerCase.contains("dynamicpruning"), planned)
    assert(j.count() == 40L) // 200 rows / 5 segs
  }

  test("null partition values group and join correctly") {
    val dir = tmpDir("spj")
    import spark.implicits._
    CowTable(spark, dir + "/a",
      TableConfig("a", Seq("id"), partitionKey = Some("seg"))).create(
      Seq((1L, "A", 1.0), (2L, null.asInstanceOf[String], 2.0))
        .toDF("id", "seg", "x"))
    val sess = spjSession()
    val back = sess.read.format("graft").load(dir + "/a")
    assert(back.count() == 2)
    assert(back.where("seg IS NULL").count() == 1)
  }
}
