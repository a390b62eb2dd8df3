"""Turns one raw lake-benchmark run (the JSON the Scala program writes) into
the benchmark's metrics. Pure functions, no Spark: `test_metrics.py` covers
them.

Conventions:
- Operations of the first cycle are warm-up and never enter a statistic.
- A failed operation counts as an infinitely slow sample in every latency
  statistic it belongs to, so failures can only make a latency worse.
- Count metrics are taken over the deterministic prefix of cycles (the
  same seed runs exactly these operations), so they repeat exactly.
- An operation during which the hypervisor stole a noticeable share of
  the machine's CPU time (`steal` in /proc/stat) was measured on a busy
  host, not on this program; it is left out of latency statistics, unless
  that would leave out most of its kind (then the whole run was busy and
  every sample stays, so that a statistic always exists).
"""

import math
import re
import statistics

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# name -> unit, for every metric a run can report
END_TO_END = {
    "setup_s": "s",
    "merge_api_p50_s": "s",
    "merge_sql_p50_s": "s",
    "cdc_events_per_s": "events/s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "lookup_p50_ms": "ms",
    "scan_p50_s": "s",
    "query_p50_ms": "ms",
    "queries_per_s": "1/s",
    "peak_mem_mb": "MB",
}

# Operation kinds behind the per-path metrics. `merge.api` and `merge.dv`
# go through the API pipeline (`CdcPipeline.run`, `applyBatch`),
# `merge.sql` and `merge.dim` through SQL `MERGE INTO`. The merges of
# landed CDC batches are the ones with `events`.
API_MERGES = ("merge.api", "merge.dv")
SQL_MERGES = ("merge.sql", "merge.dim")
LANDED_MERGES = ("merge.api", "merge.sql", "merge.dv")

PER_LAYER = {
    "manifest.header_ms": "ms",
    "manifest.fold_cold_ms": "ms",
    "manifest.pruned_cold_ms": "ms",
    "manifest.entries": "count",
    "manifest.chain_len": "count",
    "commit.manifest_bytes": "bytes",
    "commit.probe_ms": "ms",
    "mutation.files_rewritten": "count",
    "mutation.rows_rewritten": "count",
    "mutation.rewrite_ratio": "ratio",
    "mutation.dv_rows": "count",
    "dedup.ms": "ms",
    "dedup.ratio": "ratio",
    "planning.ms": "ms",
    "planning.files_kept": "count",
    "planning.files_total": "count",
    "planning.prune_ratio": "ratio",
    "scan.exec_ms": "ms",
    "scan.records_read": "count",
    "scan.read_amp": "ratio",
    "scan.task_cpu_ms": "ms",
    "spark.jobs": "count",
    "spark.job_ms": "ms",
    "spark.driver_gap_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "jvm.gc_ms": "ms",
    "trace.overhead_pct": "%",
}

# The ladder of percentiles a tail may be reported at.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def rank(p, n):
    """Nearest rank of percentile `p` (to a tenth) among `n` samples, in
    integer arithmetic so that 99.9% of 10000 is exactly rank 9990."""
    return max(1, -(-round(p * 10) * n // 1000))


def percentile(xs, p):
    """Nearest-rank percentile (the smallest sample with at least p% of the
    samples at or below it)."""
    return sorted(xs)[rank(p, len(xs)) - 1]


def tail(xs, min_beyond=10):
    """The highest percentile of the ladder that has at least `min_beyond`
    samples strictly beyond its rank, as (percentile, value, samples).
    None when there are too few samples for any of them: a tail is never
    reported from fewer samples than that."""
    n = len(xs)
    best = None
    for p in TAIL_LADDER:
        if n - rank(p, n) >= min_beyond:
            best = (p, percentile(xs, p), n)
    return best


def error_rate(attempted, failed):
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return failed / attempted


# An operation is contaminated when at least two scheduler ticks (10 ms
# each) and more than this share of its CPU time (wall time x CPUs) were
# stolen. A quiet host steals about 0.3%; the busy spells seen on a shared
# 4-core box stole 5% of a whole run and slowed it by 20-40%.
STEAL_SHARE = 0.05
STEAL_MIN_MS = 20.0


def contaminated(op, cpus):
    steal = op.get("steal_ms", 0.0)
    return steal >= STEAL_MIN_MS and steal > STEAL_SHARE * op["ms"] * cpus


def measured(ops, pred, cpus=1):
    """The measured operations matching `pred`, without contaminated ones
    while at least half of them stay."""
    sel = [op for op in ops if op["cycle"] >= 2 and pred(op)]
    clean = [op for op in sel if not contaminated(op, cpus)]
    return clean if 2 * len(clean) >= len(sel) else sel


def latencies(ops, pred, cpus=1):
    """Latency samples (ms) of `measured` operations; a failed operation is
    an infinite sample."""
    return [op["ms"] if op["ok"] else math.inf for op in measured(ops, pred, cpus)]


def kinds(ops, prefix):
    return sorted({op["kind"] for op in ops if op["kind"].startswith(prefix)})


def end_to_end(raw):
    ops = raw["ops"]
    cpus = raw.get("cpus", 1)
    lat = lambda pred: latencies(ops, pred, cpus)
    p50 = lambda kinds_: median(lat(lambda o: o["kind"] in kinds_))
    reads = kinds(ops, "query.")
    m = {}
    m["setup_s"] = raw["session_s"] + median(raw["setup_reps_s"])
    m["merge_api_p50_s"] = p50(API_MERGES) / 1000.0
    m["merge_sql_p50_s"] = p50(SQL_MERGES) / 1000.0
    batches = measured(ops, lambda o: o["kind"] in LANDED_MERGES, cpus)
    merge_s = sum(o["ms"] if o["ok"] else math.inf for o in batches) / 1000.0
    m["cdc_events_per_s"] = sum(o["events"] for o in batches if o["ok"]) / merge_s
    m["write_amp"] = raw["prefix"]["write_amp"]
    m["space_amp"] = raw["prefix"]["space_amp"]
    m["lookup_p50_ms"] = p50(("query.lookup",))
    m["scan_p50_s"] = p50(("query.agg",)) / 1000.0
    m["query_p50_ms"] = geomean([p50((k,)) for k in reads])
    read_ms = lat(lambda o: o["kind"] in reads)
    m["queries_per_s"] = len(read_ms) / (sum(read_ms) / 1000.0)
    m["peak_mem_mb"] = peak_mem_mb(raw)
    return m


def peak_mem_mb(raw):
    """Memory the program needs: the largest heap still live after the
    full collection that ends each cycle, plus the part of the peak
    resident set outside the heap. The heap is committed and touched in
    full at start, so the resident set less the committed heap is the
    memory outside it."""
    return raw["peak_heap_mb"] + max(0.0, raw["peak_rss_mb"] - raw["heap_committed_mb"])


def tails(raw):
    """Tail latencies, each with its percentile and sample count; a tail
    with too few samples is reported as absent."""
    ops, cpus = raw["ops"], raw.get("cpus", 1)
    reads = set(kinds(ops, "query."))
    return {
        "merge_tail_s": _scaled(
            tail(latencies(ops, lambda o: o["kind"] in LANDED_MERGES, cpus)), 1e-3),
        "query_tail_ms": tail(latencies(ops, lambda o: o["kind"] in reads, cpus)),
    }


def _scaled(t, f):
    return None if t is None else (t[0], t[1] * f, t[2])


def _mean(vals):
    vals = list(vals)
    return sum(vals) / len(vals) if vals else 0.0


def per_layer(raw):
    ops = [o for o in raw["ops"] if o["cycle"] >= 2 and o["ok"]]
    traced = [dict(o, **job_times(raw["spans"], o)) for o in ops if o["traced"]]
    merges = [o for o in traced if o["kind"] in LANDED_MERGES]
    reads = [o for o in traced if o["kind"].startswith("query.")]
    last = raw["prefix_cycles"]
    pmerges = [o for o in merges if o["cycle"] <= last]
    preads = [o for o in reads if o["cycle"] <= last]
    probed = [o for o in traced if "manifest_header_ms" in o]
    pprobed = [o for o in probed if o["cycle"] <= last]
    f = lambda rows, k: _mean(o[k] for o in rows)
    m = {
        "manifest.header_ms": f(probed, "manifest_header_ms"),
        "manifest.fold_cold_ms": f(probed, "manifest_fold_cold_ms"),
        "manifest.pruned_cold_ms": f(probed, "manifest_pruned_cold_ms"),
        "manifest.entries": f(pprobed, "manifest_entries"),
        "manifest.chain_len": f(pprobed, "manifest_chain_len"),
        "commit.manifest_bytes": f(pmerges, "manifest_bytes"),
        "commit.probe_ms": _mean(raw["commit_probe_ms"]),
        "mutation.files_rewritten": f(pmerges, "files_rewritten"),
        "mutation.rows_rewritten": f(pmerges, "rows_rewritten"),
        "mutation.rewrite_ratio": f(pmerges, "rewrite_ratio"),
        "mutation.dv_rows": f(pmerges, "dv_rows"),
        "dedup.ms": f(merges, "dedup_ms"),
        "dedup.ratio": f(pmerges, "dedup_ratio"),
        "planning.ms": f(reads, "planning_ms"),
        "planning.files_kept": f(preads, "files_kept"),
        "planning.files_total": f(preads, "files_total"),
        "scan.exec_ms": f(reads, "scan_exec_ms"),
        "scan.records_read": _mean(_records(o) for o in reads),
        "scan.task_cpu_ms": f(reads, "task_cpu_ms"),
        "spark.jobs": f(traced, "jobs"),
        "spark.job_ms": f(traced, "job_ms"),
        "spark.driver_gap_ms": f(traced, "driver_gap_ms"),
        "spark.shuffle_write_bytes": f(traced, "shuffle_write_bytes"),
        "spark.shuffle_read_bytes": f(traced, "shuffle_read_bytes"),
        "jvm.gc_ms": f(traced, "gc_ms"),
    }
    total = sum(o["files_total"] for o in preads)
    m["planning.prune_ratio"] = (
        1.0 - sum(o["files_kept"] for o in preads) / total if total else 0.0)
    returned = sum(max(1, o["rows"]) for o in reads)
    m["scan.read_amp"] = sum(_records(o) for o in reads) / returned if reads else 0.0
    m["trace.overhead_pct"] = overhead_pct(raw["ops"])
    return m


def job_times(spans, op):
    """An operation's Spark jobs from its spans: how many, the time they
    cover (`job_ms`, the union of their intervals) and the rest of the
    operation's wall time (`driver_gap_ms`)."""
    roots = [s for s in spans
             if s["parent"] == -1 and s["op"] == op["op"] and s["name"] == op["kind"]]
    if not roots:
        raise ValueError("traced operation %d has no root span" % op["op"])
    root = roots[0]
    jobs = [(s["start"], s["end"]) for s in spans
            if s["parent"] == root["id"] and s["name"] == "spark.job"]
    job_ms = union_ms(jobs)
    return {"jobs": len(jobs), "job_ms": job_ms,
            "driver_gap_ms": root["end"] - root["start"] - job_ms}


def _records(op):
    """Records the scan read: the task input metrics when the reader
    reports them, else the scan nodes' output rows."""
    return op["records_read"] if op["records_read"] > 0 else op["scan_rows"]


def overhead_pct(ops):
    """Tracing overhead: per operation kind, the median latency of traced
    cycles over that of untraced cycles of the same run (the cycles
    alternate), combined by geometric mean, as a percentage."""
    ratios = []
    for k in sorted({o["kind"] for o in ops}):
        on = [o["ms"] for o in ops if o["kind"] == k and o["cycle"] >= 2 and o["ok"] and o["traced"]]
        off = [o["ms"] for o in ops if o["kind"] == k and o["cycle"] >= 2 and o["ok"] and not o["traced"]]
        if on and off:
            ratios.append(median(on) / median(off))
    return 100.0 * (geomean(ratios) - 1.0) if ratios else 0.0


def by_kind(raw):
    """Per operation kind: sample count, median and tail latency (ms)."""
    out = {}
    for k in sorted({o["kind"] for o in raw["ops"]}):
        xs = latencies(raw["ops"], lambda o, k=k: o["kind"] == k, raw.get("cpus", 1))
        out[k] = {"n": len(xs), "p50_ms": median(xs) if xs else None, "tail": tail(xs)}
    return out


def self_times(spans):
    """Per span name: count, total ms, and self ms (the span minus the part
    of it its children cover)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        dur = s["end"] - s["start"]
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        row = out.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        row["count"] += 1
        row["total_ms"] += dur
        row["self_ms"] += dur - union_ms(kids)
    return out


def union_ms(intervals):
    total = 0.0
    cur = None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def check_names(names):
    bad = [n for n in names if not METRIC_NAME.match(n)]
    if bad:
        raise ValueError("metric names outside [A-Za-z0-9_.-]: %s" % bad)
