package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import TextFunctions._

/** Deduplication operators over document tables — the training-data-pipeline
  * pillar. All shapes are bucketed: candidate pairs come from LSH band
  * buckets (`groupBy(band, key)`-equivalent self-join), NEVER an all-pairs
  * cartesian — the difference between O(n·b) and O(n²) at 100 TB.
  */
object TextDedup {

  /** Exact duplicate groups by content hash: one row per distinct text with
    * the id to keep (min) and the duplicate count. Plain hash-groupBy — one
    * shuffle on the 32-hex md5, uniform by construction (no skew). */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact-dedup projection: keep exactly one row (min id) per distinct text. */
  def dedupExact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.join(
      exactDupGroups(df, idCol, textCol)
        .select(col("keep_id").as(idCol)),
      Seq(idCol), "left_semi")

  /** Near-duplicate CLUSTERS: connected components over a verified pair
    * table (id_a < id_b), labeled by the component's minimum id — the step a
    * dedup pipeline runs after pair generation to pick one survivor per
    * duplicate group (pairs alone can chain: a~b, b~c must collapse to one
    * cluster even if a~c was never a candidate).
    *
    * Alternating LARGE-STAR / SMALL-STAR rounds (Kiveris et al., "Connected
    * Components in MapReduce and Beyond" — the two-operation alternating
    * algorithm): each round rewires every node's strictly-larger neighbors
    * (large-star), then its smaller neighbors (small-star), to the
    * neighborhood minimum. Converges in O(log n) rounds regardless of
    * component SHAPE — the property that matters at 100 TB, where crawl
    * dup-chains produce chain-shaped components whose diameter (and thus a
    * label-propagation round count) grows with the chain length. Each round
    * is two aggregations + two joins over the CURRENT edge set (which only
    * ever shrinks toward star form); lineage is cut per round and the loop
    * exits when the edge set reaches its star-form fixpoint.
    */
  def nearDupClusters(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIterations: Int = 50): DataFrame =
    nearDupClustersWithRounds(pairs, idA, idB, maxIterations)._1

  /** Plan-cutting materialization for the iterative rounds: RELIABLE
    * `checkpoint()` when the context has a checkpoint dir configured
    * (cluster mode — survives executor loss, where a lost
    * localCheckpoint partition kills the whole multi-round job),
    * `localCheckpoint()` otherwise (local/test: no HDFS round-trip). */
  private[text] def checkpointed(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint()

  /** [[nearDupClusters]] plus the number of star rounds it took — the
    * O(log n)-convergence evidence the scale specs assert on. */
  private[text] def nearDupClustersWithRounds(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIterations: Int = 50): (DataFrame, Int) = {
    // materialize the pair input ONCE: the plan behind `pairs` (e.g. the
    // whole LSH+verify pipeline) must not re-execute per derived branch
    val p = checkpointed(pairs.select(col(idA).as("u"), col(idB).as("v")))
    def sym(e: DataFrame): DataFrame =
      e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    // canonical (u > v) proper edges; self-pairs carry no connectivity.
    // EVERY round is checkpointed, not merely persisted: each star
    // round references its input ~4x (sym + self-aggregation joins), so an
    // un-truncated logical plan grows ~4^rounds nodes and catalyst analysis
    // time explodes long before the data does — checkpointing resets the
    // plan to a leaf per round (the iterative-algorithm idiom).
    var e = checkpointed(p.filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct())
    // LARGE-STAR: center every node u; attach each strictly larger neighbor
    // to m = min(N(u) ∪ {u}). Output edges stay canonical (m < v).
    def largeStar(in: DataFrame): DataFrame = {
      val s = sym(in)
      val mins = s.groupBy(col("u").as("__c")).agg(min("v").as("__mn"))
        .select(col("__c"), least(col("__c"), col("__mn")).as("__m"))
      // no trailing distinct: duplicate (v,m) pairs across centers are
      // rare mid-convergence and zero at fixpoint, and smallStar's final
      // distinct restores set semantics — dropping it removes one
      // exchange per round (on tiny late-round edge sets the per-stage
      // overhead IS the cost)
      s.join(mins, s("u") === col("__c"))
        .filter(col("v") > s("u"))
        .select(col("v").as("u"), col("__m").as("v"))
        .filter(col("u") =!= col("v"))
    }
    // SMALL-STAR on canonical edges: center u's neighbors are all smaller;
    // attach them (and u) to their minimum m.
    def smallStar(in: DataFrame): DataFrame = {
      val mins = in.groupBy("u").agg(min("v").as("__m"))
      val rewired = in.join(mins, "u")
        .filter(col("v") =!= col("__m"))
        .select(col("v").as("u"), col("__m").as("v"))
      rewired.unionAll(mins.select(col("u"), col("__m").as("v")))
        .filter(col("u") =!= col("v")).distinct()
    }
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxIterations) {
      // fixpoint test FUSED into the materialization: a FULL-OUTER flag
      // join against the previous edge set rides the same checkpoint job
      // (next == e ⇔ no row is new AND no row is gone), and the test
      // itself is then ONE shuffle-free aggregate over the checkpointed
      // leaf — round 14 ran a separate count() AND an exceptAll (an extra
      // shuffle join) per round, plus an upfront count.
      val j = checkpointed(smallStar(largeStar(e))
        .withColumn("__nw", lit(true))
        .join(e.withColumn("__old", lit(true)), Seq("u", "v"), "full_outer"))
      val stat = j.agg(
        sum(when(col("__old").isNull, 1L).otherwise(0L)).as("fresh"),
        sum(when(col("__nw").isNull, 1L).otherwise(0L)).as("gone"))
        .head()
      converged = (stat.isNullAt(0) || stat.getLong(0) == 0L) &&
        (stat.isNullAt(1) || stat.getLong(1) == 0L)
      e = j.filter(col("__nw").isNotNull).select("u", "v")
      rounds += 1
    }
    if (!converged && rounds >= maxIterations) {
      throw new IllegalArgumentException(
        s"nearDupClusters did not converge within $maxIterations star " +
          "rounds — pathological input (rounds are O(log n) by " +
          "construction); raise maxIterations")
    }
    // star-form fixpoint: every non-root points straight at its component
    // min. Nodes appear in the ORIGINAL pair list (incl. self-pairs) even
    // when star rewiring dropped their edges — label them via left join.
    val labels = sym(e).groupBy(col("u").as("id"))
      .agg(min("v").as("__nm"))
      .select(col("id"), least(col("id"), col("__nm")).as("__lbl"))
    val nodes = sym(p).select(col("u").as("id")).distinct()
    val out = checkpointed(nodes.join(labels, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("__lbl"), col("id")).as("cluster_id")))
    (out, rounds)
  }

  /** Exploded LSH bucket table (id, band, band_key): `bands` bands of
    * `numHashes / bands` signature rows each. Shuffle cost: n·bands tiny rows
    * hashed on (band, key) — scales linearly in corpus size. */
  def minhashBands(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val rows = numHashes / bands
    require(rows * bands == numHashes, "bands must divide numHashes")
    val sig = minhashSigFromHashes(col("__hs"), numHashes)
    graft.core.Spread.up(df).select(col(idCol),
        graft.functions.TextTokenExpressions
          .shingleHash48(col(textCol), shingleK, distinct = true).as("__hs"))
      .filter(size(col("__hs")) > 0)
      .select(col(idCol), sig.as("__sig"))
      .select(col(idCol), explode(
        transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(b.cast("long").as("band"),
            bandKey(col("__sig"), b, rows).as("band_key")))).as("bk"))
      .select(col(idCol), col("bk.band").as("band"),
        col("bk.band_key").as("band_key"))
  }

  /** LOUD guard against pathological LSH buckets: a corpus with mass
    * duplication that skipped exact-dedup concentrates one bucket's whole
    * member list (and its n² candidate explosion) on a single reducer —
    * at scale that is an OOM/stragler, and silently truncating the bucket
    * would drop real duplicate pairs. One cheap extra pass (partial-agg
    * counts, no lists built) fails fast naming the worst bucket instead.
    * Runs EAGERLY at operator-construction time — the failure belongs to
    * the caller, not to whichever downstream action happens to run first. */
  private def assertBoundedBuckets(
      bands: DataFrame, groupCols: Seq[String],
      maxBucket: Int, fix: String): Unit = {
    val worst = bands.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > maxBucket)
      .orderBy(col("__n").desc).head(1)
    require(worst.isEmpty,
      s"LSH bucket ${worst.headOption.fold("")(_.toString)} holds more " +
        s"than maxBucket=$maxBucket members — within-bucket pair " +
        s"generation would explode quadratically on one reducer. $fix")
  }

  /** Near-duplicate pairs: LSH candidates (same band bucket, id_a < id_b)
    * verified by exact Jaccard over distinct shingle-hash sets, thresholded.
    * The verification join touches only candidate pairs — within-bucket
    * work, not all-pairs. (Jaccard over the 48-bit hash sets equals Jaccard
    * over the shingle-string sets up to within-pair hash collisions, and the
    * oracle replays the identical hashing, so parity is exact either way.)
    * `maxBucket` bounds any single bucket (see [[assertBoundedBuckets]]). */
  def nearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucket: Int = 1 << 20): DataFrame = {
    // persist the band pipeline across (guard action, pair action): the
    // guard would otherwise re-execute the whole shingle/minhash stage a
    // second time, doubling the LSH cost. The pair set is materialized
    // eagerly (localCheckpoint) while the cache is hot, then the cache is
    // dropped — nothing leaks past this call.
    val b = minhashBands(df, idCol, textCol, shingleK, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = try {
      assertBoundedBuckets(b, Seq("band", "band_key"), maxBucket,
        "Exact-dedup the corpus first (dedupExact), or raise maxBucket.")
      // bucket → within-bucket pairs via ONE groupBy (a self-join would
      // recompute the whole signature pipeline for each side). Bucket member
      // lists are small by LSH construction AND bounded by the guard above.
      b.groupBy("band", "band_key")
        .agg(collect_list(col(idCol)).as("__ids"))
        .filter(size(col("__ids")) > 1)
        .select(explode(col("__ids")).as("id_a"), col("__ids"))
        .select(col("id_a"), explode(col("__ids")).as("id_b"))
        .filter(col("id_a") < col("id_b"))
        .distinct()
        .localCheckpoint()
    } finally b.unpersist(blocking = false)
    // shingle only the CANDIDATE docs for verification: a semi-join prune
    // before the shingle projection keeps the expensive md5 pipeline off
    // the (vast) non-candidate majority — the bands pass above remains the
    // only full-corpus hash scan
    val candIds = cands.select(col("id_a").as(idCol))
      .unionAll(cands.select(col("id_b").as(idCol))).distinct()
    // ...and materialize the pruned shingle table ONCE: it is joined on both
    // the id_a and id_b sides below, and without a cut the full-corpus
    // Spread + semi-join + md5 pipeline would execute twice
    val sh = graft.core.Spread.up(df)
      .join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol),
        graft.functions.TextTokenExpressions
          .shingleHash48(col(textCol), shingleK, distinct = true).as("__sh"))
      .localCheckpoint()
    cands
      .join(sh.select(col(idCol).as("id_a"), col("__sh").as("__sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("__sh").as("__sh_b")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("__sh_a"), col("__sh_b"))).cast("double") /
          size(array_union(col("__sh_a"), col("__sh_b"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** INCREMENTAL near-dup: dedup a new batch against an existing corpus
    * WITHOUT rescanning it. `store` is the corpus's persisted band table
    * ([[minhashBands]] output, appended batch-by-batch as the corpus grows
    * — e.g. a COW table keyed by doc id); only the NEW batch is shingled
    * and banded here. Candidates come from a bucket join of the batch's
    * bands against the store — at 100 TB the corpus side contributes one
    * shuffle of its (id, band, key) index rows, never its text — and the
    * exact-Jaccard verify re-shingles ONLY candidate docs on each side
    * (semi-join prune into `corpusDocs`, a by-id point lookup a key-stated
    * lake table prunes to a few files). Returns (id_corpus, id_new,
    * jaccard ≥ threshold). Both sides' buckets are bounded loudly: a hot
    * bucket would explode the join quadratically on one reducer. */
  def incrementalNearDupPairs(
      store: DataFrame, corpusDocs: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, maxBucket: Int = 1 << 20): DataFrame = {
    val nb = minhashBands(batch, idCol, textCol, shingleK, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = try {
      assertBoundedBuckets(nb, Seq("band", "band_key"), maxBucket,
        "Exact-dedup the batch first (dedupExact), or raise maxBucket.")
      // the store side is only checked WHERE the batch probes it — a full
      // store sweep would defeat the incremental shape. (Appends keep the
      // store guarded batch-by-batch; this bounds legacy/merged buckets.)
      assertBoundedBuckets(
        store.join(nb.select("band", "band_key").distinct(),
          Seq("band", "band_key"), "left_semi"),
        Seq("band", "band_key"), maxBucket,
        "Compact or exact-dedup the signature store, or raise maxBucket.")
      store.select(col(idCol).as("id_corpus"), col("band"), col("band_key"))
        .join(nb.select(col(idCol).as("id_new"), col("band"),
          col("band_key")), Seq("band", "band_key"))
        .filter(col("id_corpus") =!= col("id_new"))
        .select("id_corpus", "id_new").distinct()
        .localCheckpoint()
    } finally nb.unpersist(blocking = false)
    def shingled(docs: DataFrame, side: String) =
      graft.core.Spread.up(docs)
        .join(cands.select(col(side).as(idCol)).distinct(),
          Seq(idCol), "left_semi")
        .select(col(idCol).as(side),
          graft.functions.TextTokenExpressions
            .shingleHash48(col(textCol), shingleK, distinct = true)
            .as(s"__sh_$side"))
        .localCheckpoint()
    cands
      .join(shingled(corpusDocs, "id_corpus"), "id_corpus")
      .join(shingled(batch, "id_new"), "id_new")
      .withColumn("jaccard",
        size(array_intersect(col("__sh_id_corpus"), col("__sh_id_new")))
          .cast("double") /
          size(array_union(col("__sh_id_corpus"), col("__sh_id_new")))
            .cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_corpus", "id_new", "jaccard")
  }

  /** (id, simhash) — 48-bit frequency-weighted SimHash per document. Near
    * duplicates have small Hamming distance; bucket by bit-slices of the
    * simhash for the scale path (same banding idea as minhash). */
  def simhashes(
      df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.core.Spread.up(df)
      .select(col(idCol),
        graft.functions.TextTokenExpressions.tokenHash48(col(textCol))
          .as("__hs"))
      .select(col(idCol), simhashFromHashes(col("__hs")).as("simhash"))

  /** (id, fingerprint) exploded winnowing fingerprints — shared fingerprint ⇒
    * shared word span of length shingleK + w - 1. */
  def fingerprints(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, w: Int = 4): DataFrame =
    graft.core.Spread.up(df).select(col(idCol),
        graft.functions.TextTokenExpressions
          .shingleHash48(col(textCol), shingleK, distinct = false).as("__hs"))
      .select(col(idCol),
        explode(winnowFingerprints(col("__hs"), w)).as("fingerprint"))

  /** SimHash near-duplicate pairs: candidates share at least one of `chunks`
    * bit-slices of the simhash (pigeonhole: any pair within
    * maxHamming < chunks distance shares a chunk... guaranteed only when
    * maxHamming < chunks; larger thresholds trade recall), verified by exact
    * Hamming distance. Same bucketed shape as minhash — never all-pairs. */
  def simhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, chunks: Int = 4,
      maxBucket: Int = 1 << 20): DataFrame = {
    val bitsPerChunk = TextFunctions.HashBits / chunks
    val mask = (1L << bitsPerChunk) - 1
    val sh = simhashes(df, idCol, textCol)
    val bands = sh.select(col(idCol), col("simhash"), explode(array(
      (0 until chunks).map(c => struct(
        lit(c.toLong).as("chunk"),
        shiftrightunsigned(col("simhash"), c * bitsPerChunk)
          .bitwiseAND(lit(mask)).as("key"))): _*)).as("bk"))
      .select(col(idCol), col("simhash"),
        col("bk.chunk").as("chunk"), col("bk.key").as("key"))
    // same persist-across-(guard, pairs) shape as nearDupPairs: one simhash
    // computation, eagerly materialized pair set, cache released before return
    val cached =
      bands.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      assertBoundedBuckets(cached, Seq("chunk", "key"), maxBucket,
        "Exact-dedup the corpus first (dedupExact), or raise maxBucket.")
      cached.groupBy("chunk", "key")
        .agg(collect_list(struct(col(idCol).as("id"), col("simhash").as("sh")))
          .as("__m"))
        .filter(size(col("__m")) > 1)
        .select(explode(col("__m")).as("a"), col("__m"))
        .select(col("a"), explode(col("__m")).as("b"))
        .filter(col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long")
            .as("hamming"))
        // filter BEFORE distinct/checkpoint: chunk keys are narrow (12-bit
        // slices), so random collisions make the unfiltered candidate set
        // quadratic-ish at scale — only survivors deserve a shuffle and a
        // checkpoint write
        .filter(col("hamming") <= maxHamming)
        .distinct()
        .localCheckpoint()
    } finally cached.unpersist(blocking = false)
  }

  /** (id, fingerprint) via character-level Rabin–Karp rolling hash windows
    * (`window` bytes every `stride`) — the O(n)-per-document fingerprint for
    * containment detection when word tokenization doesn't apply (code, CJK,
    * binary-ish text). Native codegen'd expression. */
  def rollingFingerprints(
      df: DataFrame, idCol: String, textCol: String,
      window: Int = 32, stride: Int = 8): DataFrame =
    graft.core.Spread.up(df).select(col(idCol),
      explode(array_distinct(
        graft.functions.HashArrayExpressions
          .rollingHashWindows(col(textCol), window, stride)))
        .as("fingerprint"))

  type Column2Column = org.apache.spark.sql.Column => org.apache.spark.sql.Column
}
