package graft.storage

import graft.{SparkJobs, SparkSpec}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Reads of version segments on the merge path: hive path columns take
  * their declared types, and segment schemas come from the memo, not from
  * footer-inference jobs. */
class SegmentReadSpec extends SparkSpec {
  import spark.implicits._

  private def cols = Seq("id", "p", "name")

  private def frame(rows: (Long, String, String)*): DataFrame =
    rows.toDF(cols: _*)

  private def set(df: DataFrame): Set[Row] =
    df.select(cols.map(col): _*).collect().toSet

  // every value of the string partition column looks numeric
  private val base = frame((1L, "007", "a"), (2L, "007", "b"),
    (3L, "010", "c"), (4L, "010", "d"))
  private val upd = frame((1L, "007", "a2"))
  private val dels = Seq(3L).toDF("id")

  for ((kind, dv) <- Seq("copy-on-write" -> false, "deletion-vector" -> true))
    test(s"$kind: numeric-looking string partition values survive " +
      "upsert and delete") {
      val dir = tmpDir("segtype") + "/t"
      val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
        partitionKey = Some("p"), changeDataFeed = true,
        deletionVectors = dv))
      t.create(base)
      t.upsert(upd)
      t.delete(dels)
      // plain-Spark expectations: source-wins upsert, then the delete
      val upserted = base.join(upd.select("id"), Seq("id"), "left_anti")
        .unionByName(upd)
      val expected = set(upserted.join(dels, Seq("id"), "left_anti"))
      assert(set(t.read()) == expected)
      assert(set(spark.read.format("graft").load(dir)) == expected)
      // no rewrite moved a row into a retyped directory (p=7, p=10)
      val m = t.manifest(t.currentVersion)
      assert(m.files.flatMap(CowTable.pathPartValue(Some("p"), _)).toSet ==
        Set("007", "010"))
      val typed = (df: DataFrame, tag: String) =>
        df.select(cols.map(col) :+ lit(tag).as("_change_type"): _*)
      val feedExpected =
        typed(base.join(upd.select("id"), Seq("id"), "left_semi"),
          "update_preimage")
          .unionByName(typed(upd, "update_postimage"))
          .unionByName(typed(upserted.join(dels, Seq("id"), "left_semi"),
            "delete"))
          .collect().toSet
      val feed = t.readChangeFeed(1, t.currentVersion)
        .select((cols :+ "_change_type").map(col): _*).collect().toSet
      assert(feed == feedExpected)
    }

  test("frames over segments written to a hive-partitioned table start " +
    "no Spark job") {
    val dir = tmpDir("segjobs") + "/t"
    val t = CowTable(spark, dir, TableConfig("t", Seq("id"),
      partitionKey = Some("p"), changeDataFeed = true,
      deletionVectors = true))
    t.create((1L to 40L).map(i => (i, s"p${i % 4}", s"n$i"))
      .toDF(cols: _*))
    val m1 = t.manifest(1)
    // a segment no read has touched yet: the writer's prefill alone
    val (_, fresh) = SparkJobs.counted(spark) {
      t.readFiles(m1, m1.files)
      t.readFiles(m1, m1.files, positions = true)
    }
    assert(fresh == 0)
    t.delete(Seq(5L, 6L).toDF("id")) // vectors on the v1 segment
    t.upsert(frame((7L, "p3", "x"), (41L, "p1", "y"))) // appends a segment
    val m = t.manifest(t.currentVersion)
    assert(m.files.exists(_.dvPath.isDefined))
    assert(m.files.map(e => e.path.take(e.path.indexOf('/'))).distinct
      .size == 2)
    val (_, jobs) = SparkJobs.counted(spark) {
      t.readFiles(m, m.files)
      t.readFiles(m, m.files, positions = true)
    }
    assert(jobs == 0)
    // the helper does count: one action is at least one job
    val (_, one) = SparkJobs.counted(spark)(t.read().count())
    assert(one >= 1)
  }
}
