package graft.operators

import graft.SparkSpec

class MergeEngineSpec extends SparkSpec {
  import spark.implicits._

  test("upsert: matched rows replaced, unmatched source rows inserted") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "v")
    val source = Seq((2L, "b2", 22.0), (3L, "c", 30.0)).toDF("id", "name", "v")
    val out = MergeEngine.upsert(target, source, Seq("id"))
      .as[(Long, String, Double)].collect().toSet
    assert(out == Set((1L, "a", 10.0), (2L, "b2", 22.0), (3L, "c", 30.0)))
  }

  test("upsert: a legitimate NULL in the source OVERWRITES the target value") {
    val target = Seq((1L, Some("keep"))).toDF("id", "name")
    val source = Seq((1L, Option.empty[String])).toDF("id", "name")
    val out = MergeEngine.upsert(target, source, Seq("id"))
      .as[(Long, Option[String])].collect()
    assert(out.toSeq == Seq((1L, None))) // coalesce-style merge would keep "keep"
  }

  test("upsert: schema evolution — source-only columns appended, old rows null") {
    val target = Seq((1L, "a")).toDF("id", "name")
    val source = Seq((2L, "b", "2024-06-01")).toDF("id", "name", "audit")
    val out = MergeEngine.upsert(target, source, Seq("id"))
    assert(out.columns.toSeq == Seq("id", "name", "audit"))
    val rows = out.as[(Long, String, Option[String])].collect().toSet
    assert(rows == Set((1L, "a", None), (2L, "b", Some("2024-06-01"))))
  }

  test("upsert: empty source is the identity") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val source = target.filter("id < 0")
    val out = MergeEngine.upsert(target, source, Seq("id"))
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a"), (2L, "b")))
  }

  test("upsert: null keys match null-safely (one merged row, not a dangling pair)") {
    val target = Seq((Option.empty[Long], "old"), (Some(1L), "a")).toDF("id", "name")
    val source = Seq((Option.empty[Long], "new")).toDF("id", "name")
    val out = MergeEngine.upsert(target, source, Seq("id"))
      .as[(Option[Long], String)].collect().toSet
    assert(out == Set((None, "new"), (Some(1L), "a")))
  }

  test("delete removes exactly the keyed rows (duplicate delete keys harmless)") {
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
    val dels = Seq((2L, "x"), (2L, "y"), (9L, "z")).toDF("id", "junk")
    val out = MergeEngine.delete(target, dels, Seq("id"))
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a"), (3L, "c")))
  }

  test("assertKeyUnique passes on unique keys, throws on duplicates") {
    val ok = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    MergeEngine.assertKeyUnique(ok, Seq("id")) // must not throw
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "name")
    assertThrows[IllegalArgumentException] {
      MergeEngine.assertKeyUnique(dup, Seq("id"))
    }
  }
}
