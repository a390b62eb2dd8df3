package graft.sources

import graft.SparkSpec
import graft.storage.{CowTable, TableConfig}
import org.apache.spark.sql.functions._

/** Partial aggregate pushdown: when deletion vectors / stat-less files
  * make the complete manifest answer impossible, only the undecidable
  * files are read — and the merged result is exact. */
class PartialAggSpec extends SparkSpec {
  import spark.implicits._

  test("MIN/MAX/COUNT stay pushed under a deletion vector, one file read") {
    val dir = tmpDir("pagg")
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("id"),
      clusterByKey = true, changeDataFeed = true, deletionVectors = true))
    t.create((1L to 400L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(4))
    // vector away the top ids: the extremum of the top file is deleted,
    // so a manifest-only answer would be WRONG (max=400); the partial
    // path must read exactly that one file and recover max=379
    t.delete((380L to 400L).toDF("id"))
    val df = spark.read.format("graft").load(dir + "/t")
      .agg(min("id").as("mn"), max("id").as("mx"), count(lit(1)).as("cnt"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_agg_pushdown"), plan)
    assert(plan.contains("1 manifest row(s) + 1/4 files read"), plan)
    assert(df.as[(Long, Long, Long)].head() == ((1L, 379L, 379L)))
  }

  test("count(col) with nulls: DV'd file re-counted, clean files folded") {
    val dir = tmpDir("pagg")
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("id"),
      clusterByKey = true, changeDataFeed = true, deletionVectors = true,
      statsColumns = Seq("v")))
    // v null on every 10th row
    t.create((1L to 300L).map(i =>
      (i, if (i % 10 == 0) None else Some(i * 2L))).toDF("id", "v")
      .repartition(3))
    // delete 5 null-v and 5 non-null-v rows from the first file
    t.delete(Seq(10L, 20L, 30L, 40L, 50L, 1L, 2L, 3L, 4L, 5L).toDF("id"))
    val df = spark.read.format("graft").load(dir + "/t")
      .agg(count("v").as("cv"), count(lit(1)).as("c"),
        min("v").as("mnv"), max("v").as("mxv"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_agg_pushdown"), plan)
    assert(plan.contains("1/3 files read"), plan)
    // full table: 300 rows, 30 null v; deleted: 10 rows of which 5 null-v
    // ⇒ count(v) = 270−5, count(*) = 290; min v = id 6 ⇒ 12; max v =
    // id 299 ⇒ 598 (id 300's v is null)
    assert(df.as[(Long, Long, Long, Long)].head() ==
      ((265L, 290L, 12L, 598L)))
  }

  test("clean table still answers COMPLETE (partial never shadows it)") {
    val dir = tmpDir("pagg")
    CowTable(spark, dir + "/t", TableConfig("t", Seq("id"),
      clusterByKey = true)).create(
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").repartition(2))
    val df = spark.read.format("graft").load(dir + "/t")
      .agg(min("id").as("mn"), max("id").as("mx"), count(lit(1)).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    // the complete path plans a LocalTableScan over manifest_agg_ columns
    assert(plan.contains("manifest_agg_"), plan)
    assert(!plan.contains("partial_agg"), plan)
    assert(df.as[(Long, Long, Long)].head() == ((1L, 100L, 100L)))
  }

  test("timestamp stats column: DV'd extremum recovered exactly") {
    val dir = tmpDir("pagg")
    def ts(d: Int) = java.sql.Timestamp.from(
      java.time.LocalDateTime.of(2024, 3, d, 12, 0)
        .toInstant(java.time.ZoneOffset.UTC))
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("id"),
      clusterByKey = true, changeDataFeed = true, deletionVectors = true,
      statsColumns = Seq("ts")))
    t.create((1 to 28).map(d => (d.toLong, ts(d))).toDF("id", "ts")
      .repartition(2))
    t.delete(Seq(28L, 27L).toDF("id")) // the max-ts rows
    val df = spark.read.format("graft").load(dir + "/t")
      .agg(max("ts").as("mx"), min("ts").as("mn"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_agg_pushdown"), plan)
    assert(df.as[(java.sql.Timestamp, java.sql.Timestamp)].head() ==
      ((ts(26), ts(1))))
  }

  test("GROUP BY partition key: clean groups fold, DV'd file re-aggregated") {
    val dir = tmpDir("pagg")
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("id"),
      partitionKey = Some("seg"), clusterByKey = true,
      changeDataFeed = true, deletionVectors = true))
    t.create((1L to 300L).map(i =>
      (i, Seq("A", "B", "C")(((i - 1) / 100).toInt), s"n$i"))
      .toDF("id", "seg", "name"))
    // vector rows out of segment B only: A and C stay manifest-answerable
    t.delete((101L to 120L).toDF("id"))
    val df = spark.read.format("graft").load(dir + "/t")
      .groupBy("seg")
      .agg(count(lit(1)).as("c"), min("id").as("mn"), max("id").as("mx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_agg_pushdown"), plan)
    assert(plan.contains("2 manifest row(s) + 1/3 files read"), plan)
    assert(df.as[(String, Long, Long, Long)].collect().toSet == Set(
      ("A", 100L, 1L, 100L),
      ("B", 80L, 121L, 200L),
      ("C", 100L, 201L, 300L)))
  }

  test("differential sweep: random DV populations, engine == brute force") {
    // each trial draws a layout; every trial runs the same four aggregate
    // shapes (global, GROUP BY partition, COUNT(partition), DISTINCT
    // partition) and compares them with brute force over the live rows
    val layouts = Seq("dv", "clean", "nullKey", "fpZero", "deadPart",
      "countPart", "distinct")
    val rnd = new scala.util.Random(20260816L)
    val draws = rnd.shuffle(layouts) ++
      Seq.fill(3)(layouts(rnd.nextInt(layouts.size)))
    for ((layout, trial) <- draws.zipWithIndex) {
      val dir = tmpDir("pagg")
      val n = 60 + rnd.nextInt(140)
      val segs = Seq("A", "B", "C") ++
        (if (Set("countPart", "distinct", "dv")(layout)) Seq(null) else Nil)
      def v(i: Long): Option[Double] = layout match {
        case "fpZero" if i % 5 == 0 => Some(if (rnd.nextBoolean()) 0.0 else -0.0)
        case "fpZero" => Some(rnd.nextInt(1000) - 500.0)
        case _ if rnd.nextInt(7) == 0 => None
        case _ => Some(1.0 + rnd.nextInt(1000))
      }
      val rows: Seq[(Option[Long], String, Option[Double])] =
        (1L to n.toLong).map(i =>
          (Option(i), segs(rnd.nextInt(segs.size)), v(i))) ++
          // one partition whose files hold no key at all
          (if (layout == "nullKey") (1 to 5).map(_ => (Option.empty[Long], "N", v(0L)))
           else Nil)
      val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("id"),
        partitionKey = Some("seg"), clusterByKey = rnd.nextBoolean(),
        changeDataFeed = true, deletionVectors = true, statsColumns = Seq("v")))
      t.create(rows.toDF("id", "seg", "v").repartition(2 + rnd.nextInt(3)))
      val keyed = rows.flatMap(_._1)
      val deleted: Set[Long] = layout match {
        case "clean" | "nullKey" => Set.empty
        // one whole partition vectored away, a few rows of another: C
        // folds, A is read, B must not surface as a group
        case "deadPart" => rows.collect {
          case (Some(i), s, _) if s == "B" || (s == "A" && rnd.nextInt(4) == 0) =>
            i
        }.toSet
        case _ => keyed.filter(_ => rnd.nextInt(4) == 0).toSet
      }
      if (deleted.nonEmpty) t.delete(deleted.toSeq.toDF("id"))
      val live = rows.filterNot(r => r._1.exists(deleted))
      val df = spark.read.format("graft").load(dir + "/t")
      def mn[T: Ordering](xs: Seq[T]) = xs.minOption
      def mx[T: Ordering](xs: Seq[T]) = xs.maxOption
      val ctx = s"trial $trial ($layout, deleted ${deleted.size}/$n)"

      val global = df.agg(min("id"), max("id"), count(lit(1)), count("v"),
        min("v"), max("v"))
      val vs = live.flatMap(_._3)
      assert(global.as[(Option[Long], Option[Long], Long, Long,
        Option[Double], Option[Double])].head() ==
        ((mn(live.flatMap(_._1)), mx(live.flatMap(_._1)), live.size.toLong,
          vs.size.toLong, mn(vs), mx(vs))), ctx)
      // DV-free layouts answer completely — an all-null key file included
      if (layout == "clean" || layout == "nullKey")
        assert(global.queryExecution.executedPlan.toString
          .contains("manifest_agg_"), s"$ctx\n${global.queryExecution.executedPlan}")

      val grouped = df.groupBy("seg").agg(count(lit(1)), min("id"),
        count("v"), max("v"))
      assert(grouped.as[(Option[String], Long, Option[Long], Long,
        Option[Double])].collect().toSet ==
        live.groupBy(r => Option(r._2)).map { case (s, rs) =>
          (s, rs.size.toLong, mn(rs.flatMap(_._1)),
            rs.count(_._3.isDefined).toLong, mx(rs.flatMap(_._3)))
        }.toSet, ctx)

      val countPart = df.agg(count("seg"), count(lit(1)))
      assert(countPart.as[(Long, Long)].head() ==
        ((live.count(_._2 != null).toLong, live.size.toLong)), ctx)

      val distinct = df.select("seg").distinct()
      assert(distinct.as[Option[String]].collect().toSet ==
        live.map(r => Option(r._2)).toSet, ctx)
      assert(distinct.queryExecution.executedPlan.toString
        .contains("LocalTableScan"), ctx)
    }
  }

  test("every file DV'd declines partial (no benefit), results exact") {
    val dir = tmpDir("pagg")
    val t = CowTable(spark, dir + "/t", TableConfig("t", Seq("id"),
      clusterByKey = true, changeDataFeed = true, deletionVectors = true))
    t.create((1L to 100L).map(i => (i, s"n$i")).toDF("id", "name")
      .repartition(2))
    t.delete(Seq(1L, 100L).toDF("id")) // touches both files
    val df = spark.read.format("graft").load(dir + "/t")
      .agg(min("id").as("mn"), max("id").as("mx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("partial_agg_pushdown"), plan)
    assert(df.as[(Long, Long)].head() == ((2L, 99L)))
  }
}
