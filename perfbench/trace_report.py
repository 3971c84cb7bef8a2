#!/usr/bin/env python3
"""Reads the benchmark's saved runs and prints, per workload:

  * each layer's self time per timed pass, from the traced run's spans
    (query -> run / write -> Spark job, linked by job group);
  * the per-layer metrics of the latest traced run;
  * the tracing overhead: traced pass_s minus the median untraced pass_s;
  * counter repeatability: per-query jobs, tasks and shuffle-write MB over
    every traced pass, and the queries whose counts vary;
  * CPU steal per timed pass (host context, report only).

Usage: python3 perfbench/trace_report.py [results_dir]
Runs are saved by `run.py` under .bench_build/perfbench/results.
"""
import glob
import json
import os
import statistics
import sys

import metrics
from build import OUT


def load(results_dir):
    runs = {}
    for path in glob.glob(os.path.join(results_dir, "*.json")):
        with open(path) as fh:
            r = json.load(fh)
        runs.setdefault(r["workload"], []).append(r)
    for rs in runs.values():
        rs.sort(key=lambda r: r["summary"]["finished"])
    return runs


def pass_s(r):
    return statistics.median((p["end_ms"] - p["start_ms"]) / 1e3
                             for p in metrics.timed_passes(r))


def report(workload, rs, out=sys.stdout):
    traced = [r for r in rs if r["trace"]]
    plain = [r for r in rs if not r["trace"]]
    print(f"== {workload}: {len(traced)} traced and {len(plain)} untraced runs", file=out)
    if not traced:
        print("   no traced run; run with --trace 1", file=out)
        return
    last = traced[-1]
    n = len(metrics.timed_passes(last))
    print(f"-- layer self time per timed pass (seed {last['seed']}, {n} passes)", file=out)
    for k, v in metrics.layer_self_times(last["spans"]).items():
        print(f"   {k:8s} {v / n:10.4f} s", file=out)
    print("-- per-layer metrics (median over timed passes)", file=out)
    for k, v in last["summary"]["metrics"].items():
        print(f"   {k:22s} {v:14.4f}", file=out)
    t = pass_s(last)
    if plain:
        u = statistics.median(pass_s(r) for r in plain)
        print(f"-- tracing overhead: traced pass_s {t:.4f} s - untraced {u:.4f} s "
              f"(median of {len(plain)} runs) = {t - u:+.4f} s ({(t - u) / u:+.1%})", file=out)
    else:
        print(f"-- tracing overhead: traced pass_s {t:.4f} s; no untraced run to compare", file=out)
    counts = {}
    for r in traced:
        for name, per_pass in metrics.per_query_counters(r).items():
            counts.setdefault(name, []).extend(per_pass)
    varying = {k: v for k, v in counts.items() if len(set(v)) > 1}
    total = [sum(x) for x in zip(*[[c[0] for c in v] for v in counts.values()])]
    print(f"-- counters over {len(next(iter(counts.values())))} traced passes "
          f"(jobs per pass {sorted(set(total))}); varying queries: "
          f"{len(varying)} of {len(counts)}", file=out)
    for name in sorted(varying):
        vals = varying[name]
        print(f"   {name:28s} jobs {sorted({c[0] for c in vals})} tasks "
              f"{sorted({c[1] for c in vals})} shuffle_write_mb "
              f"{sorted({c[2] for c in vals})}", file=out)
    steal = [round(p["steal_share"], 4) for r in rs for p in metrics.timed_passes(r)]
    print(f"-- cpu steal per timed pass: {steal}", file=out)


def main():
    results = sys.argv[1] if len(sys.argv) > 1 else os.path.join(OUT, "results")
    runs = load(results)
    if not runs:
        raise SystemExit(f"no saved runs under {results}")
    for workload in sorted(runs):
        report(workload, runs[workload])


if __name__ == "__main__":
    main()
