package graft

import graft.core.SessionTuning
import graft.text.{TextDedup, TextFunctions, TextStats}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical 100×-posture probe for the COMPOSED corpus pipeline (VERDICT
  * r13 ask #5, carried through r14): q74's full end-to-end shape —
  * language filter, quality threshold, near-dup removal (MinHash-LSH
  * bands → bucket join → exact-Jaccard verify → drop the higher doc_id),
  * deterministic 80% hash sample — run as ONE composition at ×1 / ×8 /
  * ×32 corpus size. The per-stage probes ([[TextScaleProbe]]) already
  * show each operator linear in isolation; this one measures what they
  * do COMBINED, where a super-linear stage would hide behind the others'
  * totals: `sec` must track input rows (×4 data ⇒ ≲×4 time;
  * `sec_per_mrow` flat-or-falling as fixed overheads amortize).
  *
  * Replicas are textually DISTINCT (per-replica `translate` rotation,
  * same device as [[TextScaleProbe]]) so the LSH stage sees realistic
  * bucket shapes, not an n-way all-dup corpus. Side effect to read the
  * output numbers correctly: rotation changes the stopword surface, so
  * the language filter rejects most rotated replicas — `out_rows` grows
  * with scale but `kept_frac` FALLS toward the rotation-survivor floor;
  * the scaling claim is about `sec`, not the fraction.
  *
  * Run manually (NOT part of the driver contract):
  * {{{
  * sbt "runMain graft.CorpusScaleProbe"
  * }}}
  * Prints one JSON line per scale; paste results into BASELINE.md.
  */
object CorpusScaleProbe {
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val alpha = "abcdefghijklmnopqrstuvwxyz"
  private def rot(i: Int): String =
    alpha.drop(i % 26) + alpha.take(i % 26)

  /** The q74 composition verbatim (graft/queries/TextQueries.scala
    * q74_corpus_build), parameterized by the input frame. */
  private def corpusBuild(dd: DataFrame): DataFrame = {
    val losers = TextDedup.nearDupPairs(dd, "doc_id", "text")
      .select(col("id_b").as("doc_id")).distinct()
    dd.select(col("doc_id"), col("lang"), col("source"),
        TextStats.languageId(col("text")).as("__lang_pred"),
        TextStats.qualityScore(col("text")).as("quality_score"),
        TextFunctions.md5Hash48(col("text")).as("__h"))
      .filter(col("__lang_pred") === col("lang") &&
        col("quality_score") >= 0.5 && col("__h") % 10 < 8)
      .join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "quality_score")
  }

  def main(args: Array[String]): Unit = {
    val spark = SessionTuning.builder(defaultCpus = 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "source", "text")

    def rep(n: Int): DataFrame = (0 until n).map { i =>
      docs0.select(
        ($"doc_id" + lit(i.toLong * 10000000L)).as("doc_id"),
        $"lang", $"source",
        translate($"text", alpha, rot(i)).as("text"))
    }.reduce(_ unionByName _)

    // warm the JVM/codegen paths so the ×1 measurement isn't start-up cost
    corpusBuild(docs0.limit(500).localCheckpoint()).count(): Unit

    for (n <- Seq(1, 8, 32)) {
      val in = rep(n).localCheckpoint() // exclude replication cost
      val inRows = in.count()
      val (outRows, sec) = time(corpusBuild(in).count())
      println(
        s"""{"probe":"corpus_build","scale":$n,"in_rows":$inRows,""" +
          s""""out_rows":$outRows,""" +
          f""""kept_frac":${outRows.toDouble / inRows}%.4f,""" +
          f""""sec":$sec%.2f,"sec_per_mrow":${sec * 1e6 / inRows}%.2f}""")
    }
    spark.stop()
  }
}
