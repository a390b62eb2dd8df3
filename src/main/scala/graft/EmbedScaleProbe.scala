package graft

import graft.core.SessionTuning
import graft.similarity.Similarity
import graft.storage.{CowTable, TableConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical 100×-posture probe for the EMBEDDING pillar — the third
  * companion of [[ScaleProbe]] (storage) and [[TextScaleProbe]] (text):
  * grow the embeddings corpus 1× / 8× / 64× and measure the ANN stack's
  * scaling claims:
  *
  *  - `train_sec` — k-means coarse-quantizer training
  *    ([[Similarity.trainIvfCentroids]]): must stay ~FLAT — it ranks the
  *    corpus once for a bounded hash-sample, then iterates driver-side
  *    over ≤4096 vectors regardless of corpus size;
  *  - `index_sec` — [[Similarity.ivfIndex]] build + persist to a lake
  *    table: one broadcast-centroid pass, must track corpus ROWS;
  *  - `max_list`/`avg_list` — IVF list balance: probe cost is
  *    O(N/nLists · nProbe) only while no list degenerates into a
  *    hot-bucket majority (the trained quantizer's job on clustered data);
  *  - `probe_sec` — a constant 100-query top-10 batch answered from the
  *    PERSISTED index ([[Similarity.ivfProbeIndex]]): grows with list
  *    size (N/nLists), never with corpus × queries;
  *  - `recall@10` — IVF vs brute-force exact on a 20-query subset: the
  *    accuracy the probe speed is buying at each scale;
  *  - `incr_sec` — indexing a CONSTANT 500-vector batch and upserting it
  *    into the index table: must stay ~flat (one broadcast pass over the
  *    batch + O(changed files) commit — the corpus is never rescanned).
  *
  * Replicas are made directionally DISTINCT by rotating the 64 dims per
  * replica (`concat(slice, slice)` — codegen'd, norm-preserving): verbatim
  * replication would stack every copy into the same lists and measure
  * duplicate pile-up, not indexing. Rotations collide mod 64, so ×64
  * still carries one true-duplicate replica pair per vector — a realistic
  * minority.
  *
  * Run manually (NOT part of the driver contract):
  * {{{
  * sbt "runMain graft.EmbedScaleProbe /tmp/embedprobe"
  * }}}
  * Prints one JSON line per scale.
  */
object EmbedScaleProbe {
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val Dim = 64
  private val NLists = 32
  private val NProbe = 4

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/embedprobe")
    val spark = SessionTuning.builder(defaultCpus = 32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF1", "/root/testdata/sf0.1")
    def emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val base = emb0.count()

    def rotate(v: org.apache.spark.sql.Column, r: Int) =
      if (r % Dim == 0) v
      else concat(slice(v, r % Dim + 1, Dim - r % Dim), slice(v, 1, r % Dim))

    // n× replication: shifted ids + per-replica dim rotation
    def rep(n: Int): DataFrame = (0 until n).map { i =>
      emb0.select(($"vec_id" + lit(i.toLong * 10000000L)).as("vec_id"),
        rotate($"embedding", i).as("embedding"))
    }.reduce(_ unionByName _)

    // constant probe/ingest batches: fresh ids, a rotation salt no small
    // scale uses (7), so overlap with the corpus stays realistic
    def queries(n: Int): DataFrame = emb0.limit(n).select(
      ($"vec_id" + lit(900000000L)).as("vec_id"),
      rotate($"embedding", 7).as("embedding"))

    for ((name, n) <- Seq(("x1", 1), ("x8", 8), ("x64", 64))) {
      val corpus = rep(n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nVecs = corpus.count()

      val (cents, tTrain) = time {
        Similarity.trainIvfCentroids(corpus, "embedding", NLists, Dim)
      }

      val root = s"$out/$name"
      CowTable.deleteRecursively(java.nio.file.Paths.get(root))
      val (store, tIndex) = time {
        CowTable.replace(spark, s"$root/ann_index",
          TableConfig("ann_index", Seq("vec_id")),
          Similarity.ivfIndex(corpus, "vec_id", "embedding",
            nLists = NLists, dim = Dim, centroids = Some(cents)))
      }
      val lists = store.read().groupBy("cid").count()
        .agg(max("count"), avg("count")).head()
      val (maxList, avgList) = (lists.getLong(0), lists.getDouble(1))

      val (nHits, tProbe) = time {
        Similarity.ivfProbeIndex(store.read(), queries(100), "vec_id",
          "embedding", 10, nLists = NLists, nProbe = NProbe, dim = Dim,
          centroids = Some(cents)).count()
      }

      // recall@10 on a bounded query subset vs the exact brute-force rank
      val q20 = queries(20)
      val exact = Similarity
        .cosineTopK(corpus, q20, "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val approx = Similarity
        .ivfProbeIndex(store.read(), q20, "vec_id", "embedding", 10,
          nLists = NLists, nProbe = NProbe, dim = Dim,
          centroids = Some(cents))
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recall = exact.keys.toSeq.map { q =>
        (approx.getOrElse(q, Set.empty) & exact(q)).size.toDouble /
          exact(q).size
      }.sum / exact.size

      // constant-batch incremental ingest: index 500 new vectors and
      // upsert into the persisted index — O(batch), corpus untouched
      val preRows = store.read().count()
      val (_, tIncr) = time {
        store.upsert(Similarity.ivfIndex(queries(500), "vec_id",
          "embedding", nLists = NLists, dim = Dim,
          centroids = Some(cents)))
      }
      val nNew = store.read().count() - preRows

      // SEMANTIC DEDUP at scale: k grows with the corpus (k ≈ N/100) so
      // the average cluster stays ~flat and the within-cluster pairwise
      // term stays LINEAR in N — the SemDeDup contract. The ×64 corpus
      // carries true duplicate replica pairs (rotations collide mod 64),
      // so n_dropped is genuinely non-zero at scale.
      val dedupK = math.max(32, math.min(2048, (nVecs / 100).toInt))
      val (dcents, tDedupTrain) = time {
        Similarity.trainIvfCentroids(corpus, "embedding", dedupK, Dim)
      }
      val ((nDropped, maxSem), tDedup) = time {
        val f = graft.similarity.SemDedup.flags(corpus, "vec_id",
          "embedding", dcents, 2, 5, maxClusterSize = 1L << 16)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          (f.filter(col("dropped")).count(),
            f.groupBy("cid").count().agg(max("count")).head().getLong(0))
        } finally f.unpersist(blocking = false)
      }

      println(s"""{"probe":"embed","scale":"$name","vectors":$nVecs,""" +
        s""""base_vectors":$base,""" +
        s""""train_sec":${f"$tTrain%.2f"},""" +
        s""""index_sec":${f"$tIndex%.2f"},""" +
        s""""max_list":$maxList,"avg_list":${f"$avgList%.1f"},""" +
        s""""probe_sec":${f"$tProbe%.2f"},"n_hits":$nHits,""" +
        s""""recall_at10":${f"$recall%.3f"},""" +
        s""""incr_sec":${f"$tIncr%.2f"},"n_incr":$nNew,""" +
        s""""semdedup_k":$dedupK,""" +
        s""""semdedup_train_sec":${f"$tDedupTrain%.2f"},""" +
        s""""semdedup_sec":${f"$tDedup%.2f"},""" +
        s""""n_dropped":$nDropped,"max_sem_cluster":$maxSem}""")
      corpus.unpersist(blocking = false)
    }
    spark.stop()
  }
}
