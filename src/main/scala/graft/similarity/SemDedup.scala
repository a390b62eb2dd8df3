package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC near-duplicate
  * pruning over an embedding corpus — the training-data dedup layer above
  * MinHash/SimHash (which see only surface text): paraphrases and
  * re-renders of the same content land in the same k-means cluster, and
  * exact cosine INSIDE each cluster decides who survives.
  *
  * Shape at 100 TB — the paper's core observation made operational:
  * all-pairs cosine over a corpus is unrunnable, but k-means bucketing
  * makes the quadratic term per-cluster. Here: one broadcast-centroid
  * assignment pass (the [[KMeans]] shape — ≤k rows ride the plan, the
  * corpus never reshuffles for assignment), then a self-join keyed on the
  * cluster id only — with a LOUD `maxClusterSize` guard before it, since
  * one degenerate cluster would put a quadratic bucket on one reducer.
  *
  * Determinism contract (same discipline as [[Similarity]]/[[KMeans]],
  * what makes an APPROXIMATE-by-reputation operator exactly
  * oracle-checkable):
  *  - vectors quantized to integer thousandths; assignment is the exact
  *    int64 argmax of 2·(qv·c) − ‖c‖², ties → lowest cid;
  *  - the threshold is a RATIONAL τ = tauNum/tauDen and the boundary test
  *    is integer-exact: cos ≥ τ ⟺ dot > 0 ∧ dot²·tauDen² ≥ tauNum²·n2a·n2b,
  *    evaluated in DECIMAL(38,0) (the products overflow int64; DuckDB
  *    replays them in HUGEINT) — no float wobble at the boundary;
  *  - survivor convention is KEEP-LOWEST-ID, pairwise: a document is
  *    dropped iff a LOWER-id member of its cluster is ≥ τ similar
  *    (witness = the smallest such id). Pairwise (not sequential-greedy)
  *    is order-independent and replayable by a plain SQL join — a greedy
  *    scan's survivor set would depend on visit order.
  */
object SemDedup {

  /** Quantize + nearest-centroid assignment (the shared first pass):
    * (vec_id, cid, __qv, __n2), zero-norm vectors excluded, guarded
    * against degenerate clusters, localCheckpointed (one evaluation
    * feeds the guard and every downstream join side). */
  private def assign(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Long]], maxClusterSize: Long): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val n = emb
      .select(col(idCol).cast("long").as("vec_id"),
        Similarity.quantVec(col(vecCol)).as("__qv"))
      .withColumn("__n2", Similarity.dotQ(col("__qv"), col("__qv")))
      .filter(col("__n2") > 0)
    val cdf = centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c, c.map(x => x * x).sum) }
      .toDF("cid", "cv", "cn2")
    val assigned = n.crossJoin(broadcast(cdf))
      .withColumn("__s",
        lit(2L) * Similarity.dotQ(col("__qv"), col("cv")) - col("cn2"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("__s").desc, col("cid"))))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("cid"), col("__qv"), col("__n2"))
      .localCheckpoint()
    // LOUD guard: a degenerate cluster would make the self-join quadratic
    // on one reducer — fail with the number, never run it
    val worst = assigned.groupBy("cid").agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxClusterSize)
      .orderBy(col("__n").desc).head(1)
    require(worst.isEmpty,
      s"SemDedup: cluster ${worst.headOption.fold("")(_.get(0).toString)} " +
        s"holds ${worst.headOption.fold("")(_.get(1).toString)} vectors " +
        s"(> maxClusterSize=$maxClusterSize) — refine the centroids (more " +
        "clusters / a re-fit) or raise maxClusterSize.")
    assigned
  }

  private def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")

  /** cos(a, b) ≥ τ as the integer-exact boundary test over the aliased
    * pair columns (qa, n2a, qb, n2b). */
  private def simFilter(tauNum: Long, tauDen: Long)
      : org.apache.spark.sql.Column = {
    val dot = Similarity.dotQ(col("qa"), col("qb"))
    dot > 0 &&
      dec(dot) * dot * lit(tauDen * tauDen) >=
        dec(lit(tauNum * tauNum)) * col("n2a") * col("n2b")
  }

  /** Pairwise keep-lowest-id verdicts over an [[assign]]ed frame. */
  private def verdicts(assigned: DataFrame, tauNum: Long,
      tauDen: Long): DataFrame = {
    val a = assigned.select(col("cid"), col("vec_id").as("id_a"),
      col("__qv").as("qa"), col("__n2").as("n2a"))
    val b = assigned.select(col("cid"), col("vec_id").as("id_b"),
      col("__qv").as("qb"), col("__n2").as("n2b"))
    val dropped = a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(simFilter(tauNum, tauDen))
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("witness"))
    assigned.select(col("vec_id"), col("cid"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        col("witness").isNotNull.as("dropped"), col("witness"))
  }

  /** Per-document semantic-dedup verdicts: (vec_id, cid, dropped,
    * witness) — `witness` the smallest lower-id cluster-mate at ≥ τ
    * cosine (null when kept). Zero-norm vectors are excluded upstream
    * (cosine undefined), same as every [[Similarity]] entry point. */
  def flags(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Long]], tauNum: Long, tauDen: Long,
      maxClusterSize: Long = 1L << 16): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum,
      s"SemDedup: τ must be in (0, 1], got $tauNum/$tauDen")
    verdicts(assign(emb, idCol, vecCol, centroids, maxClusterSize),
      tauNum, tauDen)
  }

  /** The KEPT canon of [[flags]] in index form — (vec_id, cid, qv, n2),
    * the rows an incremental ingest persists (same lake-table shape as
    * the IVF index: the cluster id + quantized vector are everything a
    * future batch needs, the raw embedding never has to be rescanned). */
  def indexOf(emb: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Long]], tauNum: Long, tauDen: Long,
      maxClusterSize: Long = 1L << 16): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum,
      s"SemDedup: τ must be in (0, 1], got $tauNum/$tauDen")
    val assigned = assign(emb, idCol, vecCol, centroids, maxClusterSize)
    val kept = verdicts(assigned, tauNum, tauDen)
      .filter(!col("dropped")).select("vec_id")
    assigned.join(kept, Seq("vec_id"))
      .select(col("vec_id"), col("cid"), col("__qv").as("qv"),
        col("__n2").as("n2"))
  }

  /** INCREMENTAL SemDeDup — the production ingest shape (embedding
    * counterpart of the persisted near-dup signature store / IVF index):
    * verdicts for a NEW batch against a persisted KEPT-canon `index`
    * (rows from [[indexOf]], typically read back from a lake table)
    * plus the batch's own lower-id members. The corpus behind the index
    * is NEVER rescanned — the batch joins cluster-bucketed against
    * O(index members of its own clusters). A batch row is dropped iff
    * ANY canon member of its cluster is ≥ τ similar (the canon is the
    * kept set — id order against it is irrelevant) or a LOWER-id batch
    * member is (the same pairwise convention as [[flags]]); witness =
    * the smallest matching id across both sources. */
  def incrementalFlags(index: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[Seq[Long]],
      tauNum: Long, tauDen: Long,
      maxClusterSize: Long = 1L << 16): DataFrame = {
    require(tauNum > 0 && tauDen >= tauNum,
      s"SemDedup: τ must be in (0, 1], got $tauNum/$tauDen")
    val bat = assign(batch, idCol, vecCol, centroids, maxClusterSize)
    val b = bat.select(col("cid"), col("vec_id").as("id_b"),
      col("__qv").as("qb"), col("__n2").as("n2b"))
    val canon = index.select(col("cid"), col("vec_id").as("id_a"),
      col("qv").as("qa"), col("n2").as("n2a"))
    val fromCanon = b.join(canon, Seq("cid"))
      // a RE-INGESTED id must not witness itself (cos = 1 against its own
      // canon entry) — excluding the self-pair makes re-ingest idempotent:
      // an unchanged row stays kept and upserts over its canon entry
      .filter(col("id_a") =!= col("id_b"))
      .filter(simFilter(tauNum, tauDen))
      .select(col("id_b"), col("id_a"))
    val a2 = bat.select(col("cid"), col("vec_id").as("id_a"),
      col("__qv").as("qa"), col("__n2").as("n2a"))
    val fromBatch = a2.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(simFilter(tauNum, tauDen))
      .select(col("id_b"), col("id_a"))
    val dropped = fromCanon.unionByName(fromBatch)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("witness"))
    bat.select(col("vec_id"), col("cid"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        col("witness").isNotNull.as("dropped"), col("witness"))
  }

  /** The sim-test SQL fragment over aliased rows `$a`/`$b` with (qv, n2)
    * columns — DuckDB HUGEINT mirror of [[simFilter]]. */
  private def simSql(a: String, b: String, tauNum: Long,
      tauDen: Long): String = {
    val dot = s"CAST(list_sum(list_transform(list_zip($a.qv, $b.qv), " +
      "z -> z[1]*z[2])) AS BIGINT)"
    s"""$dot > 0 AND CAST($dot AS HUGEINT) * $dot * ${tauDen * tauDen}
       |      >= CAST(${tauNum * tauNum} AS HUGEINT) * $a.n2 * $b.n2""".stripMargin
  }

  /** DuckDB replay of the INCREMENTAL lifecycle over `embeddings`: the
    * `seedPred` rows dedup pairwise into the canon, then the `batchPred`
    * rows check against (canon ∪ lower-id batch members). */
  def incrementalFlagsSql(centroids: Seq[Seq[Long]], tauNum: Long,
      tauDen: Long, seedPred: String, batchPred: String): String = {
    val values = centroids.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.mkString("[", ",", "]")}::BIGINT[])"
    }.mkString(", ")
    s"""WITH m AS (SELECT vec_id,
       |    list_transform(embedding, x ->
       |      CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |n AS (SELECT vec_id, qv,
       |    CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS n2
       |  FROM m
       |  WHERE CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) > 0),
       |c AS (SELECT * FROM (VALUES $values) AS t(cid, cv)),
       |asg AS (SELECT vec_id, cid, qv, n2 FROM (
       |  SELECT n.vec_id, c.cid, n.qv, n.n2,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      2*CAST(list_sum(list_transform(list_zip(n.qv, c.cv),
       |        z -> z[1]*z[2])) AS BIGINT) -
       |      CAST(list_sum(list_transform(c.cv, x -> x*x)) AS BIGINT) DESC,
       |      c.cid) AS rn
       |  FROM n CROSS JOIN c) WHERE rn = 1),
       |ev AS (SELECT * FROM asg WHERE $seedPred),
       |evdrop AS (SELECT b.vec_id FROM ev a JOIN ev b
       |  ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE ${simSql("a", "b", tauNum, tauDen)}
       |  GROUP BY b.vec_id),
       |canon AS (SELECT * FROM ev
       |  WHERE vec_id NOT IN (SELECT vec_id FROM evdrop)),
       |od AS (SELECT * FROM asg WHERE $batchPred),
       |w AS (
       |  SELECT b.vec_id, a.vec_id AS wid FROM canon a JOIN od b
       |    ON a.cid = b.cid AND a.vec_id <> b.vec_id
       |    WHERE ${simSql("a", "b", tauNum, tauDen)}
       |  UNION ALL
       |  SELECT b.vec_id, a.vec_id FROM od a JOIN od b
       |    ON a.cid = b.cid AND a.vec_id < b.vec_id
       |    WHERE ${simSql("a", "b", tauNum, tauDen)}),
       |dr AS (SELECT vec_id, min(wid) AS witness FROM w GROUP BY vec_id)
       |SELECT od.vec_id, CAST(od.cid AS BIGINT) AS cid,
       |  dr.witness IS NOT NULL AS dropped, dr.witness
       |FROM od LEFT JOIN dr ON dr.vec_id = od.vec_id
       |""".stripMargin
  }

  /** DuckDB replay of [[flags]] over the `embeddings` table — assignment,
    * cluster-bucketed pairs, and the DECIMAL boundary test in HUGEINT. */
  def flagsSql(centroids: Seq[Seq[Long]], tauNum: Long,
      tauDen: Long): String = {
    val values = centroids.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.mkString("[", ",", "]")}::BIGINT[])"
    }.mkString(", ")
    s"""WITH m AS (SELECT vec_id,
       |    list_transform(embedding, x ->
       |      CAST(floor(CAST(x AS DOUBLE)*1000 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings),
       |n AS (SELECT vec_id, qv,
       |    CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) AS n2
       |  FROM m
       |  WHERE CAST(list_sum(list_transform(qv, x -> x*x)) AS BIGINT) > 0),
       |c AS (SELECT * FROM (VALUES $values) AS t(cid, cv)),
       |asg AS (SELECT vec_id, cid, qv, n2 FROM (
       |  SELECT n.vec_id, c.cid, n.qv, n.n2,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      2*CAST(list_sum(list_transform(list_zip(n.qv, c.cv),
       |        z -> z[1]*z[2])) AS BIGINT) -
       |      CAST(list_sum(list_transform(c.cv, x -> x*x)) AS BIGINT) DESC,
       |      c.cid) AS rn
       |  FROM n CROSS JOIN c) WHERE rn = 1),
       |dr AS (SELECT b.vec_id, min(a.vec_id) AS witness
       |  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
       |      z -> z[1]*z[2])) AS BIGINT) > 0
       |    AND CAST(CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
       |      z -> z[1]*z[2])) AS BIGINT) AS HUGEINT)
       |      * CAST(list_sum(list_transform(list_zip(a.qv, b.qv),
       |      z -> z[1]*z[2])) AS BIGINT) * ${tauDen * tauDen}
       |      >= CAST(${tauNum * tauNum} AS HUGEINT) * a.n2 * b.n2
       |  GROUP BY b.vec_id)
       |SELECT asg.vec_id, CAST(asg.cid AS BIGINT) AS cid,
       |  dr.witness IS NOT NULL AS dropped, dr.witness
       |FROM asg LEFT JOIN dr ON dr.vec_id = asg.vec_id
       |""".stripMargin
  }
}
