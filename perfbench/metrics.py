"""Arithmetic of the benchmark: percentiles, interval unions, self time,
and the end-to-end and per-layer metrics computed from one run's raw
measurements (written by perfbench.Main)."""

import math
import statistics

# A percentile is reported as resolved only when at least this many
# samples lie beyond it.
MIN_BEYOND = 10
PERCENTILES = (50, 75, 90, 95, 99, 99.9)

MB = 1e6
FS_KINDS = ("stat", "list", "open", "create", "rename", "delete", "mkdirs")
MODULES = ("jobs", "functions", "llm", "ops")

# per-call span medians reported as per-layer metrics, by span name
CALL_SPANS = (
    "ops.append", "ops.epoch", "ops.delete_mor", "ops.merge_mor",
    "ops.compaction", "ops.expire", "ops.read_tip", "ops.read_version",
    "ops.change_feed", "ops.read_pruned",
    "llm.clean", "llm.minhash_lsh", "llm.components", "llm.keep_best",
    "llm.band_index", "llm.incremental", "llm.read_output",
    "jobs.terasort", "jobs.teravalidate", "jobs.wordcount", "jobs.grep",
    "jobs.join", "jobs.read_output", "functions.sketch_agg",
)


def percentile(samples, p):
    """Nearest-rank p-th percentile (0 < p <= 100)."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def beyond(n, p):
    """How many of n samples lie beyond the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def highest_resolved(n, candidates=PERCENTILES):
    """The highest candidate percentile with at least MIN_BEYOND samples
    beyond it, or None when even the lowest has fewer."""
    ok = [p for p in candidates if beyond(n, p) >= MIN_BEYOND]
    return max(ok) if ok else None


def merge(intervals):
    """Union of (start, end) intervals as a sorted list of disjoint ones."""
    out = []
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(x) for x in out]


def covered(intervals, lo, hi):
    """Length of [lo, hi] that the union of the intervals covers."""
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in merge(intervals))


def self_times(spans):
    """Self time per span id: its duration minus the part of it that its
    child spans cover (children may overlap each other).

    spans: iterable of (id, name, parent, start, end)."""
    children = {}
    for sid, _, parent, a, b in spans:
        children.setdefault(parent, []).append((a, b))
    return {sid: (b - a) - covered(children.get(sid, []), a, b)
            for sid, _, _, a, b in spans}


def job_split(spans, jobs):
    """(in-job, outside-job) time per span id: the part of the span its
    own Spark jobs cover, merged, and the rest.

    jobs: iterable of (job id, span id, start, end, ok, stages)."""
    by_span = {}
    for _, sid, a, b, _, _ in jobs:
        by_span.setdefault(sid, []).append((a, b))
    out = {}
    for sid, _, _, a, b in spans:
        inside = covered(by_span.get(sid, []), a, b)
        out[sid] = (inside, (b - a) - inside)
    return out


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def end_to_end(r):
    """End-to-end metrics of one untraced run: name -> (value, unit)."""
    walls = r["pass_wall_s"]
    total = sum(walls)
    commit, read = r["commit_ms"], r["read_ms"]
    return {
        "setup_s": (sum(r["setup_parts_ms"].values()) / 1e3, "s"),
        "wall_s": (_median(walls), "s"),
        "throughput_mb_s": (r["input_bytes"] / MB / _median(walls), "MB/s"),
        "commits_per_s": (len(commit) / total, "1/s"),
        "commit_p50_ms": (statistics.median(commit), "ms"),
        "commit_p90_ms": (percentile(commit, 90), "ms"),
        "read_p50_ms": (statistics.median(read), "ms"),
        "read_p90_ms": (percentile(read, 90), "ms"),
        "storage_amp": (r["storage_amp"], "ratio"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
    }


def per_layer(r, t):
    """Per-layer metrics of one traced run: name -> (value, unit).

    r: the run's raw measurements; t: its trace file. Totals are per pass."""
    trace, counters = t["trace"], t.get("counters", {})
    spans = [tuple(s) for s in trace["spans"]]
    jobs = [tuple(j) for j in trace["jobs"]]
    spark, fs = trace["spark"], trace["fs"]
    passes = r["pass_spans_ms"]
    n = len(passes)
    wall_ms = sum(b - a for a, b in passes)
    cores = r["cores"]
    kinds = r["call_kinds"]
    m = {}

    in_job = sum(covered([(j[2], j[3]) for j in jobs], a, b) for a, b in passes)
    m["spark.task_run_ms"] = (spark["task_run_ms"] / n, "ms")
    m["spark.task_cpu_ms"] = (spark["task_cpu_ms"] / n, "ms")
    m["spark.gc_ms"] = (spark["gc_ms"] / n, "ms")
    m["spark.shuffle_read_mb"] = (spark["shuffle_read_bytes"] / MB / n, "MB")
    m["spark.shuffle_write_mb"] = (spark["shuffle_write_bytes"] / MB / n, "MB")
    m["spark.spill_mb"] = (spark["spill_bytes"] / MB / n, "MB")
    m["spark.slot_busy_ratio"] = (spark["task_run_ms"] / (wall_ms * cores), "ratio")
    m["spark.task_share_of_in_job"] = (spark["task_run_ms"] / (in_job * cores), "ratio")
    m["spark.jobs"] = (len(jobs) / n, "count")
    m["spark.stages"] = (spark["stages"] / n, "count")
    m["spark.tasks"] = (spark["tasks"] / n, "count")
    m["spark.plan_ms"] = (spark["plan_ms"] / n, "ms")
    m["spark.aqe_replans"] = (spark["aqe_replans"] / n, "count")
    m["spark.in_job_ms"] = (in_job / n, "ms")
    m["spark.outside_job_ms"] = ((wall_ms - in_job) / n, "ms")
    m["spark.task_wait_ms"] = (spark["task_wait_ms"] / n, "ms")
    m["spark.failed_tasks"] = (spark["failed_tasks"] / n, "count")

    for side in ("driver", "task"):
        for k in FS_KINDS:
            m["fs.%s.%s" % (side, k)] = (fs[side][k] / n, "count")
    m["fs.driver_busy_ms"] = (fs["driver_busy_ms"] / n, "ms")
    m["fs.bytes_written_mb"] = (fs["bytes_written"] / MB / n, "MB")

    durations = {}
    for sid, name, _, a, b in spans:
        durations.setdefault(name, []).append(b - a)
    for name in CALL_SPANS:
        m[name + "_ms"] = (_median(durations.get(name, [])), "ms")

    # table-format ratios, over the ops.* commit and read calls
    ops_commits = [s for s in spans if kinds.get(s[1]) == "commit" and s[1].startswith("ops.")]
    ops_reads = [s for s in spans if kinds.get(s[1]) == "read" and s[1].startswith("ops.")]
    task_create = len(FS_KINDS) + FS_KINDS.index("create")
    creates = sum(fs["by_span"].get(str(s[0]), [0] * 14)[task_create] for s in ops_commits)
    published = len(ops_commits) - counters.get("ops.replays", 0)
    m["ops.files_per_commit"] = (creates / len(ops_commits) if ops_commits else 0.0, "count")
    m["ops.publish_attempts_per_commit"] = (
        fs["manifest_tmp_creates"] / published if published > 0 else 0.0, "ratio")
    ops_calls = len(ops_commits) + len(ops_reads)
    m["ops.manifest_opens_per_op"] = (
        fs["manifest_opens"] / ops_calls if ops_calls else 0.0, "ratio")

    comp = {s[0] for s in spans if s[1] == "llm.components"}
    m["llm.components_jobs"] = (sum(1 for j in jobs if j[1] in comp) / n, "count")
    cand = counters.get("llm.candidate_pairs", 0.0)
    verified = counters.get("llm.verified_pairs", 0.0)
    m["llm.candidate_pairs"] = (cand, "count")
    m["llm.verified_pairs"] = (verified, "count")
    m["llm.pair_yield"] = (verified / cand if cand else 0.0, "ratio")

    for part, ms in r["setup_parts_ms"].items():
        m[part + "_ms"] = (ms, "ms")

    # each module's self time, and its calls split into in-job and
    # outside-job time
    selfs = self_times(spans)
    split = job_split(spans, jobs)
    measured = [s for s in spans if any(a <= s[3] and s[4] <= b for a, b in passes)]
    for mod in MODULES + ("bench",):
        ids = [s[0] for s in measured if s[1].split(".")[0] == mod]
        m[mod + ".self_ms"] = (sum(selfs[i] for i in ids) / n, "ms")
        if mod != "bench":
            m[mod + ".in_job_ms"] = (sum(split[i][0] for i in ids) / n, "ms")
            m[mod + ".outside_job_ms"] = (sum(split[i][1] for i in ids) / n, "ms")

    pass_ids = [s[0] for s in spans if s[1] == "bench.pass"]
    cover = []
    for pid, (a, b) in zip(pass_ids, passes):
        kids = [(s[3], s[4]) for s in spans if s[2] == pid]
        cover.append(covered(kids, a, b) / (b - a))
    m["bench.span_coverage"] = (min(cover), "ratio")
    m["bench.traced_wall_s"] = (_median(r["pass_wall_s"]), "s")
    return m
