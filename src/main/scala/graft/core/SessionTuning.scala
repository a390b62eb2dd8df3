package graft.core

import org.apache.spark.sql.SparkSession

/** The one session shape of every graft main ([[builder]]): Bench, Verify,
  * Profile and the scale probes all run the same confs and the same
  * injected rules, so the bench measures what the verifier runs and a
  * profile shows what the bench executes.
  *
  * The three tuning confs ([[apply]]) attack measured costs (round 18,
  * executor-thread samples of q46): a small shuffle whose reduce count R
  * is below the bypass-merge threshold uses BypassMergeSortShuffleWriter,
  * which opens R partition files PER MAP TASK and then concatenates them —
  * M×R file creates + NIO copies per shuffle. On the bounded per-commit
  * batches every DML and streaming fixture shuffles, that file churn
  * dominated task CPU (66% of executor samples sat in
  * DiskBlockObjectWriter.open / copyFileStreamNIO).
  *
  *  - `bypassMergeThreshold=2`: only trivially narrow shuffles (R ≤ 2,
  *    where one or two file opens genuinely beat sort-writer setup) keep
  *    the bypass path; everything else takes the sort-based writer's ONE
  *    spill file per map task. Scale-neutral: at production R (hundreds+)
  *    the bypass never fired anyway — this only changes the small-R
  *    regime, where its M×R file creation is pure overhead at any
  *    cluster size.
  *  - `canChangeCachedPlanOutputPartitioning=true`: lets AQE coalesce
  *    partitions INSIDE cached plans (SPARK-35332 machinery), so a
  *    persisted small intermediate (merge batches, dedup windows) holds a
  *    few real partitions instead of `spark.sql.shuffle.partitions` empty
  *    ones — every downstream pass over the cache then schedules a few
  *    tasks, not R. Off by default upstream only to keep cached-plan
  *    output partitioning stable for consumers that depend on it; graft
  *    has none (explicit-n repartitions are never AQE-adjusted, and the
  *    one partition-id consumer, SeqPack, reads a single materialized
  *    cache, so its ids stay self-consistent).
  *  - `codegen.cache.maxEntries=1000` (below).
  *
  * The A/B runs behind these values are recorded in
  * `plans/r18/ab_shuffle_configs.txt`, `plans/r18/ab_codegen_cache.txt`
  * and `OPTIMIZATION_r18.md`.
  */
object SessionTuning {
  def apply(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.shuffle.sort.bypassMergeThreshold", "2")
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      "true")
    // Whole-stage-codegen compile cache (STATIC conf, JVM-global, LRU).
    // Upstream default is 100 entries — a single lifecycle statement chain
    // emits enough distinct codegen units to evict its own earlier
    // compiles (janino frames show up in timed driver-gap samples even
    // though the warmup pass compiled the same sources), and a long-lived
    // session running many query shapes re-pays Janino per-statement
    // forever. 1000 holds the working set with bounded metaspace (~10×
    // the heaviest query's unit count). Compile-artifact caching only:
    // every plan still executes in full. Scale-neutral: production
    // drivers run FEWER distinct tiny statements, but any multi-tenant /
    // long-lived session benefits the same way.
    .config("spark.sql.codegen.cache.maxEntries", "1000")

  /** `local[cpus]` with `cpus` shuffle partitions, UTC, no UI, the tuning
    * confs above and [[graft.GraftExtensions]] (the SQL-surface functions
    * such as the `table_changes` TVF, and the injected optimizer rules).
    * `cpus` is `SPARK_GRAFT_CPUS`, else `defaultCpus`. A main that needs
    * one more conf adds it to the returned builder. */
  def builder(defaultCpus: Int): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    apply(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .withExtensions(new graft.GraftExtensions)
  }
}
