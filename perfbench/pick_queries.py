"""Chooses the graph workload's queries from a measured profile of the
whole `gr_` family and regenerates perfbench/workloads.json.

Usage: python3 perfbench/pick_queries.py   (a few minutes)

The family is every `gr_` query except the memoized lifecycle gates
(graft.Bench.lifecycleBuilds). A run must fit its time budget, so the
workload times a slice of it. The script runs the whole family once,
traced (one warm-up pass, then the graph workload's timed passes), saves
the per-query medians to perfbench/graph_profile.json and picks:

  * the iterative tail whose shuffle and per-round jobs the benchmark is
    meant to expose: both betweenness queries, random walks and triangles;
  * then the rest in order of measured seconds, cut into runs of three
    (the cheapest one or two left over are dropped), and the middle query
    of each run, so the slice spans the family's cost range.

For the 27 queries of the family today that gives 4 + 7 = 11. An odd count matters: the graph
workload's 3 timed passes give 33 latencies, so the median is one sample,
the middle one of a single query's three, rather than the mean of two
neighbouring queries' extremes, which jumps with host noise.

It prints each picked query's share of the family's time and jobs. The
list is committed, so a new query in graft does not change the benchmark.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess

import build
import metrics
import run

TAIL = ["gr_betweenness_approx", "gr_betweenness_w", "gr_random_walks", "gr_triangles"]
PROFILE = os.path.join(build.HERE, "graph_profile.json")


def family(cp):
    txt = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graft.perfbench.Harness", "list"],
                         check=True, capture_output=True, text=True).stdout
    rows = [l.split("\t") for l in txt.splitlines()]
    return sorted(n for n, gate in rows if n.startswith("gr_") and gate == "0")


def profile(cp, names):
    """name -> median seconds, run share, jobs, tasks and shuffle-write MB."""
    scratch = os.path.join(build.OUT, f"profile-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        r = run.run_harness(cp, "graph", names, 1, 0, 1,
                            os.path.join(scratch, "result.json"), scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    lat = {}
    for p in metrics.timed_passes(r):
        for q in p["queries"]:
            if "error" in q:
                raise SystemExit(f"{q['name']} failed: {q['error']}")
            lat.setdefault(q["name"], []).append(
                ((q["end_ms"] - q["start_ms"]) / 1e3, (q["run_end_ms"] - q["start_ms"]) / 1e3))
    counters = metrics.per_query_counters(r)
    med = statistics.median
    return {n: {"s": round(med(t for t, _ in lat[n]), 4),
                "run_s": round(med(u for _, u in lat[n]), 4),
                "jobs": med(c[0] for c in counters[n]),
                "tasks": med(c[1] for c in counters[n]),
                "shuffle_mb": round(med(c[2] for c in counters[n]), 4)}
            for n in names}


def pick(prof):
    rest = sorted((n for n in prof if n not in TAIL), key=lambda n: -prof[n]["s"])
    return sorted(TAIL + rest[1:len(rest) // 3 * 3:3])


def summary(prof, names):
    """Totals of `names` as shares of the family's totals."""
    tot = lambda ns, k: sum(prof[n][k] for n in ns)
    lines = [f"{'query':24s} {'s':>7s} {'jobs':>5s} {'shuf MB':>8s} {'time':>6s} {'jobs':>6s}"]
    for n in names:
        lines.append(f"{n:24s} {prof[n]['s']:7.3f} {prof[n]['jobs']:5.0f} {prof[n]['shuffle_mb']:8.4f} "
                     f"{prof[n]['s'] / tot(prof, 's'):6.1%} {prof[n]['jobs'] / tot(prof, 'jobs'):6.1%}")
    for label, ns in (("slice", names), ("family", list(prof))):
        k = len(ns)
        lines.append(f"{label} ({k} queries): {tot(ns, 's'):.2f} s, {tot(ns, 'jobs'):.0f} jobs, "
                     f"{tot(ns, 'shuffle_mb'):.3f} MB shuffled per pass; per query "
                     f"{tot(ns, 's') / k:.3f} s, {tot(ns, 'jobs') / k:.1f} jobs, "
                     f"{tot(ns, 'shuffle_mb') / k:.4f} MB; {tot(ns, 'run_s') / tot(ns, 's'):.0%} inside run")
    return "\n".join(lines)


def main():
    argparse.ArgumentParser(description=__doc__,
                            formatter_class=argparse.RawDescriptionHelpFormatter).parse_args()
    cp = build.build()
    prof = profile(cp, family(cp))
    with open(PROFILE, "w") as fh:
        json.dump(prof, fh, indent=1)
        fh.write("\n")
    names = pick(prof)
    with open(os.path.join(build.HERE, "workloads.json"), "w") as fh:
        json.dump({"graph": names, "ops_week": ["ops_week"]}, fh, indent=1)
        fh.write("\n")
    print(summary(prof, names))


if __name__ == "__main__":
    main()
