package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** MERGE semantics as explicit joins — the Spark-native re-expression of the
  * reference's `MERGE INTO` SQL (reference: src/iceberg/iceberg-cdc-load.py:130-150,
  * src/delta/delta-cdc-load.py:121-141) and Hudi upsert/delete writers
  * (reference: src/hudi/hudi-cdc-load.py:115-209).
  *
  * Scale posture (100 TB): the target is NEVER broadcast — the join shuffles
  * both sides hash-partitioned on the merge keys (sort-merge or, when AQE sees
  * a small CDC batch, broadcast of the SOURCE side only). `WHEN MATCHED UPDATE
  * SET *` row-replacement is implemented with a source-presence marker rather
  * than per-column `coalesce`, so a legitimate NULL in the source row still
  * overwrites the target value (coalesce would silently keep stale data).
  */
object MergeEngine {
  private val marker = "__graft_src_present"

  import org.apache.spark.sql.types._

  /** Widened common type for a column present on both merge sides, or None
    * when no LOSSLESS widening exists (Delta-autoMerge-style,
    * reference: src/delta/delta-initial-load.py:33 mergeSchema):
    * integral chain byte→short→int→long, float→double, decimal growing to
    * max(integer digits) + max(scale) while it fits precision 38. Anything
    * else — including renames, which are indistinguishable from
    * add-new+drop-old at merge time and therefore NOT inferred — is an
    * incompatible change the merge must reject loudly rather than let
    * Spark's implicit coercion resolve (int vs string would silently
    * stringify the column). */
  private[graft] def widened(a: DataType, b: DataType): Option[DataType] = {
    def rank(d: DataType): Option[Int] = d match {
      case ByteType => Some(0)
      case ShortType => Some(1)
      case IntegerType => Some(2)
      case LongType => Some(3)
      case _ => None
    }
    (a, b) match {
      case (x, y) if x == y => Some(x)
      case (x: DecimalType, y: DecimalType) =>
        val scale = math.max(x.scale, y.scale)
        val intDigits =
          math.max(x.precision - x.scale, y.precision - y.scale)
        if (intDigits + scale <= DecimalType.MAX_PRECISION)
          Some(DecimalType(intDigits + scale, scale))
        else None
      case (FloatType, DoubleType) | (DoubleType, FloatType) =>
        Some(DoubleType)
      case (x, y) =>
        for { rx <- rank(x); ry <- rank(y) } yield if (rx >= ry) x else y
    }
  }

  /** Cast both sides' SHARED columns to their widened common type; throws
    * on any incompatible change. Returns (target', source'). */
  private[graft] def reconcileSchemas(
      target: DataFrame, source: DataFrame): (DataFrame, DataFrame) = {
    val tTypes = target.schema.map(f => f.name -> f.dataType).toMap
    val shared = source.schema.filter(f => tTypes.contains(f.name))
    val widenTo = shared.flatMap { f =>
      val tDt = tTypes(f.name)
      if (tDt == f.dataType) None
      else widened(tDt, f.dataType) match {
        case Some(w) => Some(f.name -> w)
        case None => throw new IllegalArgumentException(
          s"incompatible type change for column ${f.name}: target " +
            s"${tDt.simpleString} vs source ${f.dataType.simpleString} — " +
            "only lossless widening within a numeric family is supported " +
            "(a rename is add-new-column + drop-old, done explicitly)")
      }
    }.toMap
    def recast(df: DataFrame): DataFrame =
      widenTo.foldLeft(df) { case (d, (c, w)) =>
        if (d.schema(c).dataType == w) d else d.withColumn(c, col(c).cast(w))
      }
    (recast(target), recast(source))
  }

  /** Upsert: every source row replaces the matching target row (matched ⇒
    * UPDATE SET *), unmatched source rows are inserted (NOT MATCHED ⇒ INSERT *).
    * Output columns = target columns ++ source-only columns (schema evolution,
    * mirroring Delta autoMerge — reference: src/delta/delta-initial-load.py:33).
    *
    * CONTRACT: `source` must be key-unique. A duplicate source key would
    * multiply matching target rows instead of erroring the way the reference
    * engines' MERGE INTO does (Iceberg/Delta raise on multiple source
    * matches). Dedupe upstream with [[CdcDedup.latestPerKeyStrict]] (what the
    * CDC pipeline does) or check explicitly with [[assertKeyUnique]].
    */
  def upsert(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val (target1, source1) = reconcileSchemas(target, source)
    val t = target1.alias("t")
    val s = source1.withColumn(marker, lit(1)).alias("s")
    val cond = keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    val joined = t.join(s, cond, "full_outer")
    val srcPresent = col(s"s.$marker").isNotNull
    val tCols = target.columns
    val sCols = source.columns.toSet
    val merged = tCols.map { c =>
      if (sCols.contains(c)) when(srcPresent, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)
      else col(s"t.$c").as(c)
    } ++ source.columns.filterNot(tCols.contains).map(c => col(s"s.$c").as(c))
    joined.select(merged: _*)
  }

  /** Delete: remove target rows whose key appears in `deletes`
    * (MERGE ... WHEN MATCHED THEN DELETE ≡ left-anti join on the key). */
  def delete(target: DataFrame, deletes: DataFrame, keys: Seq[String]): DataFrame =
    target.join(deletes.select(keys.map(col): _*).distinct(), keys, "left_anti")

  /** Fail fast when a merge source carries duplicate keys — the condition
    * under which MERGE INTO is ill-defined (and under which [[upsert]] would
    * silently multiply rows). Costs one aggregate job over the (small) source
    * side; null keys group together like the merge's null-safe equality. */
  def assertKeyUnique(source: DataFrame, keys: Seq[String]): Unit = {
    val dup = source.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).head(1)
    require(dup.isEmpty,
      s"merge source has duplicate key(s) ${keys.mkString(",")}: " +
        dup.headOption.fold("")(_.toString))
  }
}
