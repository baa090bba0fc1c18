#!/usr/bin/env python3
"""Steadiness record: runs every workload at seeds 1-10 and reports, per
end-to-end metric, the median and the spread (interquartile range as a
share of the median, from statistics.quantiles(n=4)), checked against the
bounds BENCHMARK.json declares. It then runs the held-out seed 99 three
times, which separates run-to-run noise from seed-to-seed variation, and
one traced run at seed 1, whose per-layer metrics become
results/baseline_<workload>.json, and reports the tracing overhead
(traced wall over the median untraced wall, minus one).

    python3 perfbench/steadiness.py

Run it from the root of a checkout. The record goes to
results/steadiness.json.
"""

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(HERE, "results")
SEEDS = list(range(1, 11))
REPEAT_SEED, REPEATS = 99, 3
TRACED_SEED = 1


def run(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-3000:] + p.stderr[-3000:])
        raise SystemExit("%s seed %d trace %d failed" % (workload, seed, trace))
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["elapsed_s"] = time.time() - t0
    return out


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    names = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"run_seconds": seconds, "seeds": SEEDS, "repeat_seed": REPEAT_SEED,
              "traced_seed": TRACED_SEED, "workloads": {}}
    out = os.path.join(RESULTS, "steadiness.json")
    for w in names:
        runs = [run(w, s, seconds, 0) for s in SEEDS]
        rec = {"elapsed_s": [round(r["elapsed_s"], 1) for r in runs], "metrics": {}}
        for m in bounds:
            vals = [r["metrics"][m]["value"] for r in runs]
            sp = spread(vals)
            rec["metrics"][m] = {
                "values": vals, "median": statistics.median(vals), "spread": sp,
                "bound": bounds[m], "within_third_of_bound": sp < bounds[m] / 3}
            print("%-15s %-16s median %12.4f  spread %.4f  bound %.2f" % (
                w, m, statistics.median(vals), sp, bounds[m]), flush=True)
        reps = [run(w, REPEAT_SEED, seconds, 0) for _ in range(REPEATS)]
        rec["repeat_seed"] = {
            m: {"values": [r["metrics"][m]["value"] for r in reps],
                "spread": spread([r["metrics"][m]["value"] for r in reps])}
            for m in bounds}
        t = run(w, TRACED_SEED, seconds, 1)
        rec["traced_elapsed_s"] = round(t["elapsed_s"], 1)
        traced = t["metrics"]["bench.traced_wall_s"]["value"]
        rec["traced_wall_s"] = traced
        rec["tracing_overhead"] = traced / rec["metrics"]["wall_s"]["median"] - 1
        with open(os.path.join(RESULTS, "baseline_%s.json" % w), "w") as fh:
            json.dump({"workload": w, "seed": TRACED_SEED, "metrics": t["metrics"]},
                      fh, indent=1, sort_keys=True)
        record["workloads"][w] = rec
        with open(out, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
