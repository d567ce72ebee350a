"""Per-layer metrics of a traced run, from the harness's spans.

Span kinds: `op` (one timed operation) with children `builder` (the
call into the query function) and `action` (the write to the counting
no-op sink); `count` (the count() audit), `control` (the trivial
floor query), `scan` (a raw table through its loader) and `stream`
(one streaming query run). Spark `job` spans hang under the harness
span that submitted them and `stage` spans under their job. A span's
self time is its duration minus the union of its children's.

Metrics that a workload does not exercise read 0 (for example the
`batch_*` stream metrics on a batch workload).
"""
import statistics

STREAM_KEYS = ("batch_add_s", "batch_plan_s", "batch_commit_s", "state_rows",
               "state_mem_bytes", "state_commit_s", "rows_per_batch", "gen_lag_s",
               "backlog_max_batches")

UNITS = {
    "floor_s": "s", "jobs_per_op": "count", "stages_per_op": "count", "tasks_per_op": "count",
    "scan_s": "s", "input_bytes_per_op": "bytes", "input_rows_per_op": "count",
    "plan_s": "s", "eager_jobs_per_op": "count", "eager_s": "s",
    "exec_s": "s", "core_busy_ratio": "ratio", "gc_s": "s",
    "shuffle_write_bytes": "bytes", "shuffle_records": "count", "shuffle_fetch_wait_s": "s",
    "spill_bytes": "bytes", "task_skew": "ratio",
    "batch_add_s": "s", "batch_plan_s": "s", "batch_commit_s": "s", "state_rows": "count",
    "state_mem_bytes": "bytes", "state_commit_s": "s", "rows_per_batch": "count",
    "gen_lag_s": "s", "backlog_max_batches": "count",
    "count_s": "s", "count_gap_s": "s", "trace_overhead_s": "s",
}


def _dur(s):
    return (s["end_ms"] - s["start_ms"]) / 1000.0


def _union_s(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def self_times(spans):
    """Self seconds summed by span kind."""
    children = {}
    for s in spans:
        if s.get("parent"):
            children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        kids = [(max(a, s["start_ms"]), min(b, s["end_ms"])) for a, b in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["kind"]] = out.get(s["kind"], 0.0) + _dur(s) - _union_s(kids)
    return out


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _eager_s_by_op(jobs):
    """Wall time of each operation's eager jobs: the union of their
    intervals, since jobs submitted from one builder call may overlap."""
    by_op = {}
    for j in jobs:
        by_op.setdefault(j["op"], []).append((j["start_ms"], j["end_ms"]))
    return {op: _union_s(iv) for op, iv in by_op.items()}


def _spark_side(spans, ops, phases, n):
    """Job/stage/task counters of the given operations' Spark work,
    per operation (`n` operations)."""
    kind = {s["id"]: s["kind"] for s in spans if s["kind"] not in ("job", "stage")}
    jobs = [s for s in spans if s["kind"] == "job" and s.get("op") in ops
            and kind.get(s.get("parent")) in phases]
    job_ids = {j["id"]: kind.get(j["parent"]) for j in jobs}
    stages = [s for s in spans if s["kind"] == "stage" and s.get("parent") in job_ids]
    by_op = {}
    for j in jobs:
        by_op.setdefault(j["op"], set()).add(j["id"])
    skews = []
    for op, js in by_op.items():
        worst = [s["task_max_ms"] / s["task_median_ms"] for s in stages
                 if s["parent"] in js and s["tasks"] >= 2 and s["task_median_ms"] > 0]
        skews.append(max(worst) if worst else 1.0)
    tot = lambda k: sum(s[k] for s in stages)  # noqa: E731
    n = max(n, 1)
    return {
        "jobs_per_op": len(jobs) / n,
        "stages_per_op": len(stages) / n,
        "tasks_per_op": tot("tasks") / n,
        "input_bytes_per_op": tot("input_bytes") / n,
        "input_rows_per_op": tot("input_rows") / n,
        "gc_s": tot("task_gc_ms") / 1000.0 / n,
        "shuffle_write_bytes": tot("shuffle_write_bytes") / n,
        "shuffle_records": tot("shuffle_write_records") / n,
        "shuffle_fetch_wait_s": tot("shuffle_fetch_wait_ms") / 1000.0 / n,
        "spill_bytes": tot("spill_bytes") / n,
        "task_skew": statistics.median(skews) if skews else 1.0,
        "_task_run_s": tot("task_run_ms") / 1000.0,
        "_eager_jobs": [j for j in jobs if job_ids[j["id"]] == "builder"],
    }


def _probes(res_ops):
    floor = [o["control_s"] for o in res_ops if "control_s" in o]
    scans = {}
    for o in res_ops:
        if "scan_s" in o:
            scans.setdefault(o["op"].split("-scan-")[0], []).append(o["scan_s"])
    return (statistics.median(floor) if floor else 0.0,
            statistics.median(sum(v) for v in scans.values()) if scans else 0.0)


def _queries(ops):
    return {o["query"] for o in ops}


def _paired_overhead(traced, untraced):
    """Median over queries of (median traced − median untraced) time,
    over the queries timed both ways."""
    both = sorted(set(traced) & set(untraced))
    diffs = [statistics.median(traced[q]) - statistics.median(untraced[q])
             for q in both if traced[q] and untraced[q]]
    return statistics.median(diffs) if diffs else 0.0


def batch_layers(res, spans, cores):
    traced = [o for o in res["ops"] if o.get("traced") and "wall_s" in o]
    untraced = [o for o in res["ops"] if not o.get("traced") and "wall_s" in o]
    ids = {o["op"] for o in traced}
    n = len(traced)
    sp = _spark_side(spans, ids, ("builder", "action"), n)
    eager_by_op = _eager_s_by_op(sp["_eager_jobs"])
    exec_s = _mean([o["exec_s"] for o in traced])
    floor, scan = _probes(res["ops"])
    m = {
        "floor_s": floor,
        "scan_s": scan,
        "plan_s": _mean([o["build_s"] - eager_by_op.get(o["op"], 0.0) for o in traced]),
        "eager_jobs_per_op": len(sp["_eager_jobs"]) / max(n, 1),
        "eager_s": sum(eager_by_op.values()) / max(n, 1),
        "exec_s": exec_s,
        "core_busy_ratio": sp["_task_run_s"] / max(exec_s * n * cores, 1e-9),
        "count_s": _mean([o["count_s"] for o in traced if "count_s" in o]),
        "count_gap_s": _mean([o["exec_s"] - o["count_s"] for o in traced if "count_s" in o]),
        "trace_overhead_s": _paired_overhead(
            {q: [o["wall_s"] for o in traced if o["query"] == q] for q in _queries(traced)},
            {q: [o["wall_s"] for o in untraced if o["query"] == q] for q in _queries(untraced)}),
    }
    m.update({k: v for k, v in sp.items() if not k.startswith("_")})
    m.update({k: 0.0 for k in STREAM_KEYS})
    return {k: (m[k], UNITS[k]) for k in UNITS}


def query_table(res, spans):
    """Per-query layer split of the traced operations (means per query)."""
    traced = [o for o in res["ops"] if o.get("traced") and "wall_s" in o]
    rows = {}
    for q in sorted({o["query"] for o in traced}):
        ops = [o for o in traced if o["query"] == q]
        sp = _spark_side(spans, {o["op"] for o in ops}, ("builder", "action"), len(ops))
        eager = sum(_eager_s_by_op(sp["_eager_jobs"]).values()) / len(ops)
        rows[q] = {
            "wall_s": _mean([o["wall_s"] for o in ops]),
            "plan_s": _mean([o["build_s"] for o in ops]) - eager,
            "eager_s": eager,
            "exec_s": _mean([o["exec_s"] for o in ops]),
            "count_s": _mean([o.get("count_s", 0.0) for o in ops]),
            **{k: v for k, v in sp.items() if not k.startswith("_")},
        }
    return rows


def stream_layers(res, spans, cores, traced, untraced):
    lags, backlog = traced["lags"], traced["backlog"]
    runs = [r for r in res["runs"] if r["traced"]]
    batches = [b for r in runs for b in res["batches"].get(r["op"], [])]
    n = len(batches)
    sp = _spark_side(spans, {r["op"] for r in runs}, ("stream",), n)
    exec_s = _mean([(b["end_ms"] - b["start_ms"]) / 1000.0 for b in batches])
    floor, scan = _probes(res.get("probes", []))
    m = {
        "floor_s": floor, "scan_s": scan,
        "plan_s": 0.0, "eager_jobs_per_op": 0.0, "eager_s": 0.0, "count_s": 0.0, "count_gap_s": 0.0,
        "exec_s": exec_s,
        "core_busy_ratio": sp["_task_run_s"] / max(exec_s * n * cores, 1e-9),
        "batch_add_s": _mean([b["add_ms"] for b in batches]) / 1000.0,
        "batch_plan_s": _mean([b["plan_ms"] for b in batches]) / 1000.0,
        "batch_commit_s": _mean([b["commit_ms"] for b in batches]) / 1000.0,
        "state_rows": _mean([b["state_rows"] for b in batches]),
        "state_mem_bytes": _mean([b["state_mem_bytes"] for b in batches]),
        "state_commit_s": _mean([b["state_commit_ms"] for b in batches]) / 1000.0,
        "rows_per_batch": _mean([b["rows"] for b in batches]),
        "gen_lag_s": max(lags) if lags else 0.0,
        "backlog_max_batches": max(backlog) if backlog else 0.0,
        "trace_overhead_s": _paired_overhead(traced["by_query"], untraced["by_query"]),
    }
    m.update({k: v for k, v in sp.items() if not k.startswith("_")})
    return {k: (m[k], UNITS[k]) for k in UNITS}
