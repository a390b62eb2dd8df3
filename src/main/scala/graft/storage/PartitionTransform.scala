package graft.storage

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Iceberg-style PARTITION TRANSFORM (hidden partitioning, re-expressed as
  * a Delta-style GENERATED partition column): the table is hive-partitioned
  * on a column DERIVED from a source column — `day(ts)`, `month(ts)`,
  * `bucket(N, c)`, `truncate(W, c)` — so users write and query the SOURCE
  * column while the layout groups rows by the transform (reference analog:
  * Iceberg `PARTITIONED BY (days(ts))`, the spec shape
  * iceberg-initial-load.py's `PARTITIONED BY` clause would carry; Delta
  * expresses the same as a generated column used as the partition key).
  *
  * Design decisions, all scale-driven:
  *  - The derived column IS a schema column (Delta generated-column
  *    semantics, visible on read): every existing layout/maintenance/
  *    pruning path — hive dirs, partition-scoped compact/optimize,
  *    `$partitions`, grouped manifest aggregates, consumed partition
  *    filters — works on it verbatim, because after generation it is an
  *    ordinary identity partition key.
  *  - The value is (re)computed INSIDE the commit funnel
  *    ([[CowTable.writeVersion]]) as a pure projection — writers can never
  *    drift it from its source (Delta enforces the same invariant on
  *    generated columns), and upsert/merge batches don't need to carry it.
  *  - Scans derive partition predicates FROM source-column predicates
  *    (`ts >= X` ⇒ `ts_day >= day(X)`; `c = v` ⇒ `c_bucket = hash(v)%N`)
  *    — the hidden-partitioning payoff: partition pruning with no
  *    user-visible partition column in the query. Derived predicates are
  *    PRUNING-ONLY (the source filter stays residual — a day dir holds a
  *    whole day, so the derived predicate is implied-by, not equal-to).
  *
  * `bucket` uses the engine's standard replayable integer hash
  * (md5 hex prefix, the [[graft.text.Sampling]] idiom) so bucket routing is
  * deterministic and engine-exact across restarts and engines — Iceberg
  * pins murmur3 for the identical reason.
  */
final case class PartitionTransform(
    kind: String, source: String, param: Int) {

  /** The generated column's name (Iceberg's layout naming: `ts_day`). */
  def name: String = s"${source}_$kind"

  /** Canonical spec string, the durable form manifests carry. */
  def spec: String = kind match {
    case "day" | "month" | "hour" | "year" => s"$kind($source)"
    case _ => s"$kind($param,$source)"
  }

  /** The generation expression over the source column. All time
    * transforms render UTC-fixed path values (sessions run UTC; the
    * planning-time replay in [[graft.sources.FilePredicate]] assumes the
    * same) — `hour` and `year` render zero-padded strings so the path's
    * LEXICAL order is the source's temporal order (what range pruning
    * relies on). */
  def expr: Column = kind match {
    case "day" => to_date(col(source))
    case "month" => date_format(col(source), "yyyy-MM")
    case "hour" => date_format(col(source), "yyyy-MM-dd-HH")
    case "year" => date_format(col(source), "yyyy")
    case "bucket" => PartitionTransform.bucketOf(col(source), param)
    case "truncate" => substring(col(source).cast("string"), 1, param)
  }

  /** `expr` applied to a LITERAL source value (driver-side, for mapping a
    * pushed source predicate to a partition predicate). */
  def applyTo(value: Column): Column = kind match {
    case "day" => to_date(value)
    case "month" => date_format(value, "yyyy-MM")
    case "hour" => date_format(value, "yyyy-MM-dd-HH")
    case "year" => date_format(value, "yyyy")
    case "bucket" => PartitionTransform.bucketOf(value, param)
    case "truncate" => substring(value.cast("string"), 1, param)
  }

  /** Range predicates on the source survive the transform only when the
    * path value is monotone in the source's order: day/month/hour/year
    * (zero-padded, chronological) and truncate over a STRING source
    * (prefixes compare in UTF-8 byte order, Spark's string order). A
    * truncated INT/LONG renders a decimal string, whose lexical order is
    * not numeric order ("10" < "9"); bucket hashes. */
  def orderPreserving(srcType: org.apache.spark.sql.types.DataType): Boolean =
    kind match {
      case "bucket" => false
      case "truncate" => srcType == org.apache.spark.sql.types.StringType
      case _ => true
    }
}

object PartitionTransform {

  /** The engine-standard replayable bucket hash: 24-bit md5 hex prefix mod
    * N (DuckDB replay: `CAST(conv(substring(md5(CAST(c AS VARCHAR)),1,6),
    * 16, 10) AS BIGINT) % N`). */
  def bucketOf(c: Column, n: Int): Column =
    pmod(conv(substring(md5(c.cast("string")), 1, 6), 16, 10).cast("long"),
      lit(n.toLong))

  /** JVM replay of [[bucketOf]] over the value's cast-to-string form —
    * byte-identical to the column expression (24-bit md5 hex prefix is
    * non-negative, so % ≡ pmod). Drives driver-side partition pruning. */
  def bucketLocal(s: String, n: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.take(3).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16) % n
  }

  /** The generated column's type — MUST agree with what [[expr]] produces
    * (the write funnel derives the schema from the expression; spec
    * evolution declares it up front for files that don't exist yet). */
  def outputType(t: PartitionTransform,
      srcType: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = t.kind match {
    case "day" => org.apache.spark.sql.types.DateType
    case "month" | "hour" | "year" => org.apache.spark.sql.types.StringType
    case "bucket" => org.apache.spark.sql.types.LongType
    case "truncate" => org.apache.spark.sql.types.StringType
    case other => throw new IllegalArgumentException(
      s"unsupported partition transform kind $other")
  }

  private val NoParam = """(day|month|hour|year)\(([^,()]+)\)""".r
  private val WithParam = """(bucket|truncate)\((\d+),([^,()]+)\)""".r

  /** Parse the canonical spec string (loud on anything else). */
  def parse(s: String): PartitionTransform = s.trim match {
    case NoParam(k, src) => PartitionTransform(k, src.trim, 0)
    case WithParam(k, p, src) =>
      val n = p.toInt
      require(n > 0, s"partition transform $s: param must be > 0")
      PartitionTransform(k, src.trim, n)
    case other => throw new IllegalArgumentException(
      s"unsupported partition transform '$other' — expected day(c), " +
        "month(c), hour(c), year(c), bucket(N,c), or truncate(W,c)")
  }
}
