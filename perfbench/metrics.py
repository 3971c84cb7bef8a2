"""Pure reductions from a harness result file to benchmark metrics.

A result file (written by graft.perfbench.Harness) holds the passes, each
query's `run` and `write` span, the output digests and, for a traced run,
every Spark job with its job group and summed task metrics. Times are
wall-clock milliseconds.
"""
import hashlib
import math
import statistics


def pass_order(names, seed, pass_index):
    """The order the harness runs a pass in: names sorted by
    sha256("seed:pass:name")."""
    key = lambda n: hashlib.sha256(f"{seed}:{pass_index}:{n}".encode()).hexdigest()
    return sorted(names, key=key)


def percentile(values, p):
    """Nearest-rank p-th percentile: the smallest sample with at least p%
    of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    return xs[max(0, math.ceil(round(p / 100.0 * len(xs), 9)) - 1)]


def tail_percentile(n, want=90.0, beyond=10):
    """The tail percentile that n samples support: the highest percentile,
    at most `want`, that still has at least `beyond` samples above it.
    Never below the median: with too few samples the tail is the median."""
    if n <= 0:
        raise ValueError("no samples")
    p = 100.0 * (n - beyond) / n
    return max(50.0, min(want, p))


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    end = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def clip(intervals, lo, hi):
    """The parts of `intervals` that fall inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(span, children):
    """Time in `span` not covered by any child interval."""
    lo, hi = span
    return (hi - lo) - union_length(clip(children, lo, hi))


def timed_passes(result):
    return [p for p in result["passes"] if p["timed"]]


def query_seconds(result):
    """Every per-query latency (run plus write) of the timed passes."""
    return [(q["end_ms"] - q["start_ms"]) / 1000.0
            for p in timed_passes(result) for q in p["queries"]]


def failures(result, expected):
    """(attempted, [failure descriptions]) over every query execution of the
    run plus the output check against `expected` digests. Without a warm-up
    pass the check re-reads each result after the timed passes and counts
    as an execution of its own."""
    attempted = 0
    failed = []
    for p in result["passes"]:
        for q in p["queries"]:
            attempted += 1
            if "error" in q:
                failed.append(f"{q['name']} pass {p['index']}: {q['error']}")
    separate = all(p["timed"] for p in result["passes"])
    checks = {c["name"]: c for c in result["checks"]}
    for name in result["queries"]:
        c = checks.get(name)
        want = expected.get(name)
        if separate:
            attempted += 1
        if c is None:
            failed.append(f"{name}: no output check")
        elif "error" in c:
            if separate:
                failed.append(f"{name} check: {c['error']}")
        elif want is None:
            failed.append(f"{name}: no recorded digest")
        elif c["digest"] != want["digest"] or c["rows"] != want["rows"]:
            failed.append(f"{name}: output digest {c['digest'][:12]} ({c['rows']} rows)"
                          f" != recorded {want['digest'][:12]} ({want['rows']} rows)")
    return attempted, failed


def end_to_end(result):
    passes = timed_passes(result)
    lat = query_seconds(result)
    return {
        "setup_s": (result["setup_s"], "s"),
        "pass_s": (statistics.median((p["end_ms"] - p["start_ms"]) / 1000.0
                                     for p in passes), "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_p90_s": (percentile(lat, tail_percentile(len(lat))), "s"),
        "peak_heap_mb": (result["peak_heap_mb"], "MB"),
    }


def jobs_by_pass(result):
    """Timed pass index -> the Spark jobs whose job group names that pass."""
    out = {p["index"]: [] for p in timed_passes(result)}
    for j in result.get("jobs", []):
        _, _, idx = j["group"].rpartition("#")
        if idx.isdigit() and int(idx) in out and j["end_ms"] >= j["start_ms"]:
            out[int(idx)].append(j)
    return out


def pass_layers(p, jobs):
    """Per-layer figures of one traced pass."""
    ivs = [(j["start_ms"], j["end_ms"]) for j in jobs]
    covered = union_length(ivs)
    wall = p["end_ms"] - p["start_ms"]
    durs = [e - s for s, e in ivs]
    tot = lambda k: sum(j[k] for j in jobs)
    return {
        "run.construct_s": (sum(q["run_end_ms"] - q["start_ms"] for q in p["queries"]) / 1e3, "s"),
        "run.driver_s": ((wall - union_length(clip(ivs, p["start_ms"], p["end_ms"]))) / 1e3, "s"),
        "sched.jobs": (len(jobs), "count"),
        "sched.stages": (tot("stages"), "count"),
        "sched.tasks": (tot("tasks"), "count"),
        "sched.job_p50_ms": (statistics.median(durs) if durs else 0.0, "ms"),
        "sched.delay_s": (tot("sched_delay_ms") / 1e3, "s"),
        "sched.job_overlap": (sum(durs) / covered if covered else 1.0, "ratio"),
        "exec.run_s": (tot("run_ms") / 1e3, "s"),
        "exec.cpu_s": (tot("cpu_ns") / 1e9, "s"),
        "exec.gc_s": (tot("gc_ms") / 1e3, "s"),
        "scan.input_mb": (tot("input_bytes") / 1e6, "MB"),
        "scan.records": (tot("input_records"), "count"),
        "shuffle.write_mb": (tot("shuffle_write_bytes") / 1e6, "MB"),
        "shuffle.read_mb": (tot("shuffle_read_bytes") / 1e6, "MB"),
        "shuffle.fetch_wait_s": (tot("fetch_wait_ms") / 1e3, "s"),
        "shuffle.spill_mb": (tot("spill_bytes") / 1e6, "MB"),
        "ckpt.cached_mb": (p["cached_mb"], "MB"),
        "write.output_mb": (tot("output_bytes") / 1e6, "MB"),
        "write.output_rows": (tot("output_records"), "count"),
        "store.disk_mb": (p["store_mb"], "MB"),
    }


def per_layer(result):
    """Median over the timed passes of each per-layer figure."""
    byp = jobs_by_pass(result)
    rows = [pass_layers(p, byp[p["index"]]) for p in timed_passes(result)]
    return {k: (statistics.median(r[k][0] for r in rows), rows[0][k][1]) for k in rows[0]}


def per_query_counters(result):
    """name -> [(jobs, tasks, shuffle write MB) per timed pass]."""
    byp = jobs_by_pass(result)
    out = {}
    for p in timed_passes(result):
        for q in p["queries"]:
            js = [j for j in byp[p["index"]] if j["group"] == q["group"]]
            out.setdefault(q["name"], []).append(
                (len(js), sum(j["tasks"] for j in js),
                 round(sum(j["shuffle_write_bytes"] for j in js) / 1e6, 6)))
    return out


def spans(result):
    """query -> run/write -> Spark job spans of the timed passes, linked
    by job group."""
    out = []
    byp = jobs_by_pass(result)
    for p in timed_passes(result):
        for q in p["queries"]:
            g = q["group"]
            out.append({"kind": "query", "group": g, "start_ms": q["start_ms"], "end_ms": q["end_ms"]})
            out.append({"kind": "run", "group": g, "start_ms": q["start_ms"], "end_ms": q["run_end_ms"]})
            out.append({"kind": "write", "group": g, "start_ms": q["run_end_ms"], "end_ms": q["end_ms"]})
            for j in byp[p["index"]]:
                if j["group"] == g:
                    out.append({"kind": "job", "group": g, "id": j["id"],
                                "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    return out


def layer_self_times(span_list):
    """Seconds of each span kind not covered by its children: a query's
    children are its run and write, theirs are the jobs inside them, and
    the job layer is the union of job intervals."""
    by_group = {}
    for s in span_list:
        by_group.setdefault(s["group"], []).append(s)
    acc = {"query": 0.0, "run": 0.0, "write": 0.0, "job": 0.0}
    for ss in by_group.values():
        jobs = [(s["start_ms"], s["end_ms"]) for s in ss if s["kind"] == "job"]
        for s in ss:
            span = (s["start_ms"], s["end_ms"])
            if s["kind"] == "query":
                kids = [(c["start_ms"], c["end_ms"]) for c in ss if c["kind"] in ("run", "write")]
                acc["query"] += self_time(span, kids)
            elif s["kind"] in ("run", "write"):
                acc[s["kind"]] += self_time(span, jobs)
        q = [s for s in ss if s["kind"] == "query"][0]
        acc["job"] += union_length(clip(jobs, q["start_ms"], q["end_ms"]))
    return {k: v / 1e3 for k, v in acc.items()}
