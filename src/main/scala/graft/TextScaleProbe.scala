package graft

import graft.core.SessionTuning
import graft.storage.{CowTable, TableConfig}
import graft.text.TextDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical 100×-posture probe for the TEXT pillar (VERDICT r10 ask #5 —
  * the companion of [[ScaleProbe]]'s storage tables): grow the documents
  * corpus 1× / 8× / 32× and measure the near-dup stack's scaling claims:
  *
  *  - `bands_sec`   — MinHash band-index build: must track corpus BYTES
  *                    (one fused shingle+minhash pass, one band explode);
  *  - `max_bucket`  — the largest (band, band_key) bucket: the banded
  *                    join is linear ONLY while buckets stay bounded
  *                    (`TextDedup`'s LOUD guard threshold) — this records
  *                    the actual headroom at each scale;
  *  - `pairs_sec`   — full-corpus near-dup pairs (band bucket join +
  *                    bucket-local exact Jaccard verify);
  *  - `incr_sec`    — incremental dedup of a CONSTANT 500-doc batch
  *                    against the PERSISTED band index ([[TextDedup
  *                    .incrementalNearDupPairs]]): must stay ~flat as the
  *                    corpus grows — the store contributes an index probe,
  *                    never a text rescan (store build time is excluded:
  *                    an ingest pipeline appends to it incrementally).
  *
  * Replicas are made textually DISTINCT via per-replica `translate` char
  * rotations (codegen'd, zero driver cost): verbatim replication would
  * make every document an n-way exact dup — an all-hot-bucket corpus that
  * measures the guard, not the operator. Rotations collide mod 26, so the
  * ×32 corpus still carries a realistic minority of true cross-replica
  * duplicates (replica r and r+26 share content at shifted ids).
  *
  * Run manually (NOT part of the driver contract):
  * {{{
  * sbt "runMain graft.TextScaleProbe /tmp/textprobe"
  * }}}
  * Prints one JSON line per scale.
  */
object TextScaleProbe {
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val alpha = "abcdefghijklmnopqrstuvwxyz"
  private def rot(i: Int): String =
    alpha.drop(i % 26) + alpha.take(i % 26)

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/textprobe")
    val spark = SessionTuning.builder(defaultCpus = 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF1", "/root/testdata/sf0.1")
    def docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val base = docs0.count()

    // n× replication: shifted ids + rotated alphabet per replica
    def rep(n: Int): DataFrame = (0 until n).map { i =>
      docs0.select(
        ($"doc_id" + lit(i.toLong * 10000000L)).as("doc_id"),
        translate($"text", alpha, rot(i)).as("text"))
    }.reduce(_ unionByName _)

    // the constant-size incremental batch: 500 fresh-id docs whose content
    // rotates by a salt no replica uses at ×1/×8 (batch vs corpus overlap
    // is then genuinely sparse, as in a real ingest)
    def batch: DataFrame = docs0.limit(500).select(
      ($"doc_id" + lit(900000000L)).as("doc_id"),
      translate($"text", alpha, rot(7)).as("text"))

    for ((name, n) <- Seq(("x1", 1), ("x8", 8), ("x32", 32))) {
      val corpus = rep(n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nDocs = corpus.count()

      val (bands, tBands) = time {
        val b = TextDedup.minhashBands(corpus, "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        b.count()
        b
      }
      val maxBucket = bands.groupBy("band", "band_key").count()
        .agg(max("count")).head().getLong(0)

      val (nPairs, tPairs) = time {
        TextDedup.nearDupPairs(corpus, "doc_id", "text").count()
      }

      // round-11 additions: duplicated-span detection (hash agg + join
      // back + per-doc islands — must track corpus bytes, never pairs²)
      // and BM25 search (two corpus aggregates + a bounded top-k — the
      // per-query cost must track the corpus linearly).
      val (nSpans, tSpans) = time {
        graft.text.SpanDedup.dupSpans(corpus, "doc_id", "text", k = 5)
          .count()
      }
      val (nHits, tBm25) = time {
        graft.text.Search.bm25TopK(corpus, "doc_id", "text",
          Seq("vector", "merge", "stream"), k = 25).count()
      }

      // persisted store (build untimed — ingest appends incrementally),
      // then the constant-batch incremental dedup
      val root = s"$out/$name"
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val store = CowTable.replace(spark, s"$root/sig_store",
        TableConfig("sig_store", Seq("doc_id")), bands)
      val (nIncr, tIncr) = time {
        TextDedup.incrementalNearDupPairs(
          store.read(), corpus, batch, "doc_id", "text").count()
      }

      println(s"""{"probe":"text","scale":"$name","docs":$nDocs,""" +
        s""""base_docs":$base,""" +
        s""""bands_sec":${f"$tBands%.2f"},"max_bucket":$maxBucket,""" +
        s""""pairs_sec":${f"$tPairs%.2f"},"n_pairs":$nPairs,""" +
        s""""spans_sec":${f"$tSpans%.2f"},"n_spans":$nSpans,""" +
        s""""bm25_sec":${f"$tBm25%.2f"},"n_bm25_hits":$nHits,""" +
        s""""incr_sec":${f"$tIncr%.2f"},"n_incr_pairs":$nIncr}""")
      bands.unpersist(blocking = false)
      corpus.unpersist(blocking = false)
    }
    spark.stop()
  }
}
