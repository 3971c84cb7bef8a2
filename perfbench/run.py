#!/usr/bin/env python3
"""graft benchmark: one workload, one closed-loop client, one JVM.

Usage:
  python3 perfbench/run.py --workload <graph|ops_week> \
      --seed <n> --seconds <s> --trace <0|1> [--record-digests]

Builds graft and the harness from source (cached under .bench_build/),
runs the workload on the committed sf0.001 tables in perfbench/data,
checks every query's output digest against perfbench/digests.json and
prints one JSON line last: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 a
SparkListener records every job and the metrics are the per-layer ones.
The seed only shuffles query order within each pass.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build
import metrics

HERE = build.HERE
ROOT = build.ROOT
DATA = os.path.join(HERE, "data")
RESULTS = os.path.join(build.OUT, "results")
# warm-up passes before timing, and the fewest timed passes per run. The
# first warm-up pass also digests every result for the output check.
# graph's three timed passes give 33 query latencies, enough for a tail
# percentile above the median (see metrics.tail_percentile).
# ops_week runs one arc per process, as the daily job it models does: the
# arc pays its own codegen and one-time builds, and its result is checked
# after the arc.
PLAN = {
    "graph": {"warmup": 1, "minPasses": 3},
    "ops_week": {"warmup": 0, "minPasses": 1},
}
JVM_TIMEOUT_S = 165


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_harness(cp, workload, queries, seed, seconds, trace, out, scratch):
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    # a fixed young generation keeps peak_heap_mb from following G1's
    # adaptive sizing
    cmd = ["java", "-XX:-UsePerfData", *build.ADD_OPENS, "-Xmx2g", "-Xmn256m",
           f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "graft.perfbench.Harness",
           f"workload={workload}", f"queries={','.join(queries)}", f"data={DATA}",
           f"seed={seed}", f"seconds={seconds}", f"trace={int(trace)}",
           f"out={out}", f"scratch={scratch}",
           *(f"{k}={v}" for k, v in PLAN[workload].items())]
    errlog = open(os.path.join(scratch, "harness.err"), "w")
    proc = subprocess.Popen(cmd, stdout=errlog, stderr=errlog, cwd=scratch)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: harness exceeded {JVM_TIMEOUT_S}s")
    finally:
        errlog.close()
    if rc != 0 or not os.path.exists(out):
        with open(errlog.name) as fh:
            tail = fh.read()[-3000:]
        raise SystemExit(f"perfbench: harness exited {rc}\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PLAN))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="store this run's output digests as the expected ones")
    a = ap.parse_args(argv)

    cp = build.build()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        queries = json.load(fh)[a.workload]
    digests_path = os.path.join(HERE, "digests.json")
    with open(digests_path) as fh:
        expected = json.load(fh)

    scratch = os.path.join(build.OUT, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        result = run_harness(cp, a.workload, queries, a.seed, a.seconds, a.trace,
                             os.path.join(scratch, "result.json"), scratch)
    finally:
        shutil.rmtree(os.path.join(scratch, "tmp"), ignore_errors=True)

    if a.record_digests:
        for c in result["checks"]:
            if "error" in c:
                raise SystemExit(f"perfbench: {c['name']} failed: {c['error']}")
            expected[c["name"]] = {"digest": c["digest"], "rows": c["rows"]}
        with open(digests_path, "w") as fh:
            json.dump(dict(sorted(expected.items())), fh, indent=1)
            fh.write("\n")

    attempted, failed = metrics.failures(result, expected)
    order_ok = all(p["order"] == metrics.pass_order(queries, a.seed, p["index"])
                   for p in result["passes"])
    if not order_ok:
        failed.append("pass order does not follow the seed")
    for f in failed:
        log(f"FAILED {f}")

    if a.trace:
        m = metrics.per_layer(result)
        m["failed_ratio"] = (len(failed) / attempted, "ratio")
    else:
        m = metrics.end_to_end(result)
    steal = [p["steal_share"] for p in metrics.timed_passes(result)]
    log(f"{a.workload} seed={a.seed} trace={a.trace}: "
        f"{len(metrics.timed_passes(result))} timed passes, "
        f"passes {[round((p['end_ms'] - p['start_ms']) / 1e3, 3) for p in result['passes']]} s, "
        f"cpu steal per timed pass {[round(s, 4) for s in steal]}")
    for k, (v, unit) in m.items():
        log(f"  {k:22s} {v:12.4f} {unit}")

    # keep the run for trace_report.py
    os.makedirs(RESULTS, exist_ok=True)
    result["summary"] = {"metrics": {k: v for k, (v, _) in m.items()},
                         "failed": failed, "finished": time.time()}
    if a.trace:
        result["spans"] = metrics.spans(result)
    name = f"{a.workload}-trace{a.trace}-seed{a.seed}.json"
    with open(os.path.join(RESULTS, name), "w") as fh:
        json.dump(result, fh)
    shutil.rmtree(scratch, ignore_errors=True)

    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in m.items()},
    }))


if __name__ == "__main__":
    main()
