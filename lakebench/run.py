#!/usr/bin/env python3
"""The lake benchmark's single command.

    python3 lakebench/run.py --workload cdc_merge --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the engine and the benchmark
from the checkout's sources with sbt (once; later runs reuse the build while
the sources are unchanged), runs one workload in a fresh JVM, checks the
results against a plain-Spark replay, prints every metric by name and unit,
and ends with one JSON line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(and writes the spans and their self times next to the build). A
correctness mismatch or a failed build or run exits non-zero and reports
no timing.

    python3 lakebench/run.py --check-determinism

runs each workload twice on a tiny seeded input and fails unless the count
metrics repeat exactly.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "lakebench")
WORKLOADS = ("cdc_merge", "lake_serve")
DEFAULT_SEED = 1
HOLDOUT_SEED = 7919
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print("lakebench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: the engine's sources and build, and the
    benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no engine sources (src/main/scala) under %s" % ROOT)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed to build the benchmark")
    files = source_files()
    missing = [f for f in files if not os.path.exists(f)]
    if missing:
        die("missing build input %s" % missing[0])
    fp = fingerprint(files)
    stamp = os.path.join(OUT, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st.get("fingerprint") == fp:
            return st["classpath"]
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export lakebench/Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=fh,
            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        tail_of(log)
        die("build failed (log: %s)" % log)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": lines[-1]}, fh)
    return lines[-1]


def tail_of(path, n=30):
    with open(path, errors="replace") as fh:
        sys.stderr.writelines(fh.readlines()[-n:])


def run_program(cp, workload, seed, seconds, trace, extra=()):
    """One JVM run of the workload; returns the raw result."""
    tag = "%s-%d-t%d-%d" % (workload, seed, trace, os.getpid())
    work = os.path.join(OUT, "work-" + tag)
    raw_path = os.path.join(OUT, "raw-%s.json" % tag)
    log = os.path.join(OUT, "run-%s.log" % tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [a for p in JDK_OPENS for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
           + ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-cp", cp, "graft.lakebench.LakeBench",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--work", work, "--out", raw_path] + list(extra))
    try:
        with open(log, "w") as fh:
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, start_new_session=True,
                                 env=dict(os.environ, MALLOC_ARENA_MAX="2"))
            try:
                code = p.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                tail_of(log)
                die("run exceeded %ds (log: %s)" % (RUN_TIMEOUT_S, log), 3)
        if code != 0 or not os.path.exists(raw_path):
            tail_of(log)
            die("run failed with code %d (log: %s)" % (code, log), 3)
        with open(raw_path) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def fmt(v):
    return "%.6g" % v


def report(raw, trace):
    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o["ok"])
    print("workload %s  seed %d (holdout seed %d)  cpus %d  cycles %d (warm-up 1, "
          "count prefix %d)  measured %.1f s" % (
              raw["workload"], raw["seed"], HOLDOUT_SEED, raw["cpus"], raw["cycles"],
              raw["prefix_cycles"], raw["measured_s"]))
    print("loadavg start [%s] end [%s]  cpu steal %.2f s  gc %.2f s" % (
        raw["loadavg_start"], raw["loadavg_end"], raw["steal_s"], raw["gc_s"]))
    print("session %.1f s  setup reps %s s  warm-up %.1f s  verify %.1f s" % (
        raw["session_s"], " ".join(fmt(x) for x in raw["setup_reps_s"]),
        raw["warmup_s"], raw["verify_s"]))
    print("live heap peak %.0f MB  resident peak %.0f MB  heap committed %.0f MB" % (
        raw["peak_heap_mb"], raw["peak_rss_mb"], raw["heap_committed_mb"]))
    dirty = sum(1 for o in raw["ops"] if metrics.contaminated(o, raw["cpus"]))
    print("attempted %d  failed %d  error_rate %s  contaminated by steal %d" % (
        attempted, failed, fmt(metrics.error_rate(attempted, failed)), dirty))
    for k, row in metrics.by_kind(raw).items():
        t = row["tail"]
        print("  %-16s n=%-3d p50 %10s ms  tail %s" % (
            k, row["n"], fmt(row["p50_ms"]),
            "absent (too few samples)" if t is None else "p%g %s ms of %d" % (t[0], fmt(t[1]), t[2])))
    for k, t in metrics.tails(raw).items():
        print("  %-16s %s" % (k, "absent (too few samples)" if t is None
                              else "p%g = %s over %d samples" % t))
    if not raw["correct"]:
        for m in raw["mismatches"]:
            print("MISMATCH " + m, file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": attempted, "failed": failed,
                          "metrics": {}}))
        return 1
    if trace:
        values, units = metrics.per_layer(raw), metrics.PER_LAYER
        write_trace(raw)
    else:
        values, units = metrics.end_to_end(raw), metrics.END_TO_END
    bad = [k for k, v in values.items() if not math.isfinite(v)]
    if bad:
        print("failed operations left no finite value for %s" % bad, file=sys.stderr)
        print(json.dumps({"correct": True, "attempted": attempted, "failed": failed,
                          "metrics": {}}))
        return 1
    for k in units:
        print("%-28s %14s %s" % (k, fmt(values[k]), units[k]))
    print(json.dumps({"correct": True, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))
    return 0


def write_trace(raw):
    """Spans and per-span-name self times of a traced run."""
    st = metrics.self_times(raw["spans"])
    path = os.path.join(OUT, "trace-%s-%d.json" % (raw["workload"], raw["seed"]))
    with open(path, "w") as fh:
        json.dump({"workload": raw["workload"], "seed": raw["seed"], "self_times": st,
                   "ops": raw["ops"], "spans": raw["spans"]}, fh)
    print("trace: %s" % path)
    print("  %-22s %6s %12s %12s" % ("span", "count", "total ms", "self ms"))
    for name, row in sorted(st.items(), key=lambda kv: -kv[1]["self_ms"]):
        print("  %-22s %6d %12.1f %12.1f" % (name, row["count"], row["total_ms"], row["self_ms"]))


DETERMINISTIC = ("write_amp", "mutation.files_rewritten", "commit.manifest_bytes",
                 "planning.files_kept")


def check_determinism(cp):
    """A tiny seed twice per workload: the count metrics must be equal."""
    ok = True
    for w in WORKLOADS:
        seen = []
        for _ in range(2):
            raw = run_program(cp, w, 3, 0, 1, ["--scale", "tiny"])
            if not raw["correct"]:
                die("%s: incorrect result %s" % (w, raw["mismatches"]), 1)
            layer = metrics.per_layer(raw)
            seen.append({k: raw["prefix"][k] if k in raw["prefix"] else layer[k]
                         for k in DETERMINISTIC})
        same = seen[0] == seen[1]
        ok &= same
        print("%s %s %s" % (w, "identical" if same else "DIFFER", seen))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-determinism", action="store_true")
    a = ap.parse_args()
    metrics.check_names(list(metrics.END_TO_END) + list(metrics.PER_LAYER))
    if not a.check_determinism and a.workload is None:
        die("--workload is required")
    cp = build()
    if a.check_determinism:
        return check_determinism(cp)
    t0 = time.time()
    raw = run_program(cp, a.workload, a.seed, a.seconds, a.trace)
    code = report(raw, a.trace)
    print("wall %.1f s" % (time.time() - t0), file=sys.stderr)
    return code


if __name__ == "__main__":
    sys.exit(main())
