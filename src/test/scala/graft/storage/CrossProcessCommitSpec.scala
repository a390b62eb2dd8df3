package graft.storage

import graft.SparkSpec

/** The commit protocol's single-winner claim, proven ACROSS OS PROCESSES:
  * `Files.createLink` (hard-link CAS) is POSIX-atomic between processes,
  * not merely between threads — `ConcurrentRebaseSpec` races threads in
  * one JVM; this spec forks a second plain JVM (no Spark session needed
  * for metadata-only commits) onto the same table and asserts
  * (1) exactly one winner per version across both processes, with real
  * cross-process losses observed, and (2) a loser in THIS process rebases
  * onto versions won by the OTHER process. The reference ducks this with
  * Glue's max_concurrent_runs=1 (/root/reference/cdk_stacks/
  * glue_stack.py:156); graft claims true multi-writer safety. */
class CrossProcessCommitSpec extends SparkSpec {
  import spark.implicits._

  private def javaBin: String =
    java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java")
      .toString

  /** Launch the racer JVM; returns (exitCode, stdout). */
  private def runChild(root: String, rounds: Int,
      goFile: String): (Int, String) = {
    val pb = new ProcessBuilder(javaBin,
      "-cp", System.getProperty("java.class.path"),
      "-XX:+UseSerialGC", "-Xmx256m",
      "graft.storage.RaceCommitMain", root, rounds.toString, goFile)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    val code = proc.waitFor()
    (code, out)
  }

  test("hard-link CAS commits are single-winner across OS processes") {
    val dir = tmpDir("xproc")
    val root = dir + "/t"
    val t = CowTable(spark, root, TableConfig("t", Seq("id")))
    t.create((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    val v0 = t.currentVersion
    val rounds = 150
    val goFile = dir + "/go"
    // child: waits on the go file, then spins metadata-only commits
    val childThread = new java.util.concurrent.CompletableFuture[(Int, String)]
    new Thread(() =>
      childThread.complete(runChild(root, rounds, goFile))).start()
    // wait for the child's READY marker (it creates goFile + ".ready"),
    // then drop the go file and spin our own commit loop CONCURRENTLY
    val ready = java.nio.file.Paths.get(goFile + ".ready")
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!java.nio.file.Files.exists(ready)) {
      require(System.nanoTime() < deadline, "child JVM never came up")
      Thread.sleep(20)
    }
    java.nio.file.Files.createFile(java.nio.file.Paths.get(goFile))
    // fair start: the child JVM pays cold classloading on its FIRST commit
    // (json4s + catalyst utils) — without this wait the warm parent can
    // finish all its rounds before the child commits once and the race
    // never overlaps. Waiting for the ledger to advance proves the child
    // is warm and mid-loop; its commits still count via head - v0 below.
    val warmDeadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (t.currentVersion == v0) {
      require(System.nanoTime() < warmDeadline, "child never committed")
      Thread.sleep(1)
    }
    var wins = 0
    var losses = 0
    (1 to rounds).foreach { _ =>
      val parent = t.currentVersion
      val m = t.manifest(parent)
      try {
        t.commitAt(parent, Nil, m.files,
          CowTable.structFromJson(m.schemaJson), dataChange = false)
        wins += 1
      } catch { case _: ConcurrentWriteException => losses += 1 }
    }
    val (code, out) = childThread.get(
      120, java.util.concurrent.TimeUnit.SECONDS)
    assert(code == 0, s"child JVM failed:\n$out")
    val childWins = """WINS=(\d+)""".r.findFirstMatchIn(out)
      .getOrElse(fail(s"no WINS line in child output:\n$out"))
      .group(1).toInt
    val childLosses = """LOSSES=(\d+)""".r.findFirstMatchIn(out)
      .get.group(1).toInt
    val head = t.currentVersion
    // EXACTLY one winner per published version, summed across processes
    assert(head - v0 == wins + childWins,
      s"version ledger broke: head=$head v0=$v0 wins=$wins+$childWins")
    // the race was REAL: at least one side lost a CAS to the other process
    assert(losses + childLosses > 0,
      s"no cross-process contention observed ($wins/$childWins wins)")
    // every version in the chain parses and links to its parent
    ((v0 + 1) to head).foreach { v =>
      assert(t.manifest(v).parent == v - 1, s"broken chain at v$v")
    }
    // table content untouched by the churn
    assert(t.read().count() == 100L)
    // every 8th version was a checkpoint, and every CAS loser removed the
    // sidecar it wrote: only committed manifests and their sidecars remain
    val litter = ManifestDeltaSpec.manifestLitter(java.nio.file.Paths.get(root))
    assert(litter.isEmpty, litter)
  }

  test("a loser in this process REBASES onto versions won by another " +
      "process") {
    val dir = tmpDir("xproc")
    val root = dir + "/t"
    val t = CowTable(spark, root, TableConfig("t", Seq("id")))
    t.create((1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"))
    val a = t.currentVersion
    val ma = t.manifest(a)
    val schema = CowTable.structFromJson(ma.schemaJson)
    // the OTHER PROCESS wins 3 versions while we hold a stale parent
    val goFile = dir + "/go"
    java.nio.file.Files.createFile(java.nio.file.Paths.get(goFile))
    val (code, out) = runChild(root, 3, goFile)
    assert(code == 0, s"child JVM failed:\n$out")
    assert(t.currentVersion == a + 3, s"child should win 3: $out")
    // plain commit at the stale parent fails LOUDLY...
    intercept[ConcurrentWriteException] {
      t.commitAt(a, Nil, ma.files, schema, dataChange = false)
    }
    // ...and the rebase path lands the same commit on the new head: the
    // winners are reorganizations (schema/mapping/constraints unchanged,
    // nothing removed), so the rebase recomputes carry-over from the
    // WINNER's files and retries — across processes, zero data re-read
    val v = t.commitRowLevelRebased(a, Nil, ma.files, schema,
      touchedPaths = Set.empty, footprint = Nil)
    assert(v == a + 4, s"expected rebase onto the child's head, got v$v")
    assert(t.read().count() == 50L)
  }
}
