#!/usr/bin/env python3
"""graft benchmark: one workload run, end-to-end or traced.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--smoke] [--queries <q1,q2,...>]

Workloads (see perfbench/workloads.json and perfbench/README.md):
  serving_batch  closed loop over serving queries: five graft.analytics
                 queries of the reference project and graph_triangles
  event_stream   graft.streaming operators: closed-loop throughput and
                 open-loop latency, each output checked against its batch twin

The program and the harness are built from source on first use
(perfbench/harness/build.py) into $CARGO_TARGET_DIR (default .bench_build).
The last line of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The exit code is 0 only when every output was correct.
"""
import argparse
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(HERE / "harness")]

import build  # noqa: E402
import checks  # noqa: E402
import layers  # noqa: E402

# JVM and Spark start-up plus first-query compilation, with margin
START_S = 90
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def percentile(xs, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def mean_of_medians(by_key):
    """Each query's (or operator's) median, averaged over them: every
    query weighs the same however its times cluster."""
    return sum(statistics.median(v) for v in by_key.values()) / len(by_key)


def workload_queries(cfg, args):
    spec = cfg["workloads"][args.workload]
    if args.queries and spec["kind"] != "batch":
        sys.exit("--queries applies to batch workloads only")
    queries = args.queries.split(",") if args.queries else spec["queries"]
    if args.smoke:
        queries = (queries[: cfg["smoke"]["queries_per_batch_workload"]]
                   if spec["kind"] == "batch" else spec["smoke_queries"])
    return queries


def jvm_args(cfg, args, work, queries):
    spec = cfg["workloads"][args.workload]
    a = {
        "kind": spec["kind"], "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "cores": cfg["cores"], "work": work, "queries": ",".join(queries),
    }
    if spec["kind"] == "batch":
        a["data"] = str(ROOT / cfg["data"]["smoke" if args.smoke else "full"])
        a["tables"] = ",".join(cfg["data"]["tables"])
        # a traced run alternates traced and untraced operations, so it
        # needs two passes for every query to be timed both ways
        a["passes"] = max(1 + args.trace, round(args.seconds / spec["pass_s"]))
    else:
        t = spec["traffic"]
        g = {k: t[k] for k in ("users", "items", "mean_gap_s", "value_mean")}
        g["types"] = ",".join(f"{k}:{v}" for k, v in t["types"].items())
        g.update(spec["generator"])
        share = g.pop("open_share_of_seconds")
        if args.smoke:
            g.update(cfg["smoke"]["generator"])
        else:
            # the open loop's length follows --seconds; a traced run
            # splits it between an untraced and a traced half
            n = max(10, round(args.seconds * share / len(queries) * 1000.0 / g["interval_ms"]))
            g["open_batches"] = max(5, n // 2) if args.trace else n
            if args.trace:
                g["drains"] = max(1, g["drains"] // 2)
        a.update(g)
    return a


def jvm_timeout(cfg, args, jargs):
    """Seconds the benchmark process may take: start-up plus four times
    the nominal length of its operations. A batch pass lasts about
    `pass_s` for the workload's own query list, so the nominal length
    scales with the number of queries run (the verified and warm passes
    included). A stream operator takes about 10 s besides the open loop
    (warm-up, drains, flush and twin check), and a traced run runs each
    operator twice."""
    spec = cfg["workloads"][args.workload]
    n = len(jargs["queries"].split(","))
    if spec["kind"] == "batch":
        nominal = (jargs["passes"] + 2) * spec["pass_s"] * n / len(spec["queries"])
    else:
        nominal = (1 + args.trace) * (args.seconds + 10 * n)
    return START_S + 4 * nominal


def run_jvm(classes, heap, jargs, work, timeout):
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    cmd = (["java", f"-Xmx{heap}", "-Xss16m", f"-Djava.io.tmpdir={work}/tmp"]
           + [f"--add-opens={o}=ALL-UNNAMED" for o in JVM_OPENS]
           + ["-cp", cp, "perfbench.Main"]
           + [x for k, v in jargs.items() for x in (f"--{k}", str(v))])
    (pathlib.Path(work) / "tmp").mkdir(parents=True, exist_ok=True)
    with open(pathlib.Path(work) / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            return "timeout"


def batch_metrics(res, verified_rows, failures, n_verify):
    """End-to-end metrics of a batch run, from its untraced passes."""
    queries = [o for o in res["ops"] if not o["query"].startswith("<")]
    ops = [o for o in queries if not o["traced"] and "wall_s" in o]
    attempted = len(queries) + n_verify
    for o in queries:
        if "error" in o:
            continue
        q = o["query"]
        want = verified_rows.get(q)
        if want is None or o.get("rows") != want:
            failures.append(f"{o['op']}: {o.get('rows')} rows, verified pass had {want}")
        if "count_rows" in o and o["count_rows"] != want:
            failures.append(f"{o['op']}: count() gave {o['count_rows']}, verified {want}")
    walls = [o["wall_s"] for o in ops]
    by_query = {}
    for o in ops:
        by_query.setdefault(o["query"], []).append(o["wall_s"])
    # a traced run has no untraced pass: its untraced figures (reported
    # next to the per-layer ones) use the untraced operations' own time
    wall = sum(p["wall_s"] for p in res["passes"] if not p["traced"]) or sum(walls)
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "latency_s": (mean_of_medians(by_query), "s"),
        "throughput_per_s": (len(ops) / wall, "1/s"),
        "live_heap_peak_mb": (res["live_heap_peak_mb"], "MB"),
    }
    extra = {"ops_timed": len(ops), "latency_p50_s": percentile(walls, 50),
             "latency_p90_s": percentile(walls, 90),
             "timed_wall_s": wall}
    return metrics, attempted, extra


def stream_latencies(res, failures, traced):
    """Open-loop latency of every sent batch: from its scheduled send
    time to the commit of the first micro-batch holding its offset."""
    out = {"lat": [], "by_query": {}, "closed_s": 0.0, "closed_events": 0,
           "lags": [], "backlog": []}
    for r in res["runs"]:
        if r["traced"] != traced:
            continue
        if "drain_s" in r:
            # an operator's drain time is its drains' median times their
            # count, so one drain slowed by a neighbour does not move it
            out["closed_s"] += len(r["drain_s"]) * statistics.median(r["drain_s"])
            out["closed_events"] += r["closed_events"]
        commits = sorted(res["batches"].get(r["op"], []), key=lambda b: b["batch_id"])
        for s in r.get("sends", []):
            hit = next((b for b in commits if b["end_offset"] >= s["offset"]), None)
            if hit is None:
                failures.append(f"{r['op']}: batch at offset {s['offset']} never committed")
                continue
            lat = (hit["end_ms"] - s["due_ms"]) / 1000.0
            out["lat"].append(lat)
            out["by_query"].setdefault(r["query"], []).append(lat)
            out["lags"].append((s["sent_ms"] - s["due_ms"]) / 1000.0)
            out["backlog"].append(s["backlog"])
    return out


def stream_metrics(res, failures):
    m = stream_latencies(res, failures, False)
    lat, closed_s = m["lat"], m["closed_s"]
    sends = sum(len(r.get("sends", [])) for r in res["runs"])
    attempted = sends + len(res["runs"])
    if not lat or closed_s <= 0:
        failures.append("no committed stream batches to measure")
        lat, closed_s = [float("nan")], float("nan")
    metrics = {
        "setup_s": (res["setup_s"], "s"),
        "latency_s": (mean_of_medians(m["by_query"]) if m["lat"] else float("nan"), "s"),
        "throughput_per_s": (m["closed_events"] / closed_s, "1/s"),
        "live_heap_peak_mb": (res["live_heap_peak_mb"], "MB"),
    }
    extra = {"latency_samples": len(lat), "latency_p50_s": percentile(lat, 50),
             "latency_p90_s": percentile(lat, 90),
             "closed_events": m["closed_events"], "closed_wall_s": closed_s,
             "gen_lag_max_s": max(m["lags"], default=None),
             "backlog_max_batches": max(m["backlog"], default=None)}
    return metrics, attempted, extra


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 tables, 3 batch queries, a tiny stream")
    ap.add_argument("--queries", help="comma list replacing a batch workload's queries, "
                    "e.g. for a traced per-query table over more queries")
    args = ap.parse_args()

    cfg = json.loads((HERE / "workloads.json").read_text())
    if args.workload not in cfg["workloads"]:
        sys.exit(f"unknown workload {args.workload}; one of {sorted(cfg['workloads'])}")
    if args.smoke:
        args.seconds = cfg["smoke"]["seconds"]
    build_root = pathlib.Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    classes = build.build(build_root / "perfbench")

    work = build_root / "perfbench" / "work" / f"{args.workload}-{args.seed}-{args.trace}"
    if work.exists():
        shutil.rmtree(work)
    work.mkdir(parents=True)
    queries = workload_queries(cfg, args)
    jargs = jvm_args(cfg, args, str(work), queries)
    rc = run_jvm(classes, cfg["heap"], jargs, str(work), jvm_timeout(cfg, args, jargs))
    result = work / "result.json"
    if rc != 0 or not result.exists():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-25:]
        sys.stderr.write("\n".join(tail) + f"\nbenchmark process failed: {rc}\n")
        sys.exit(2)
    res = json.loads(result.read_text())
    failures = list(res["failures"])
    kind = cfg["workloads"][args.workload]["kind"]

    if kind == "batch":
        data = ROOT / cfg["data"]["smoke" if args.smoke else "full"]
        report = checks.check_batch(data, cfg["data"]["tables"], work / "verify",
                                     res["oracle"], res["verified"])
        failures += report["failures"]
        verified_rows = {q: r["rows"] for q, r in report["queries"].items()}
        metrics, attempted, extra = batch_metrics(res, verified_rows, failures, len(queries))
        extra["checks"] = report["queries"]
    else:
        metrics, attempted, extra = stream_metrics(res, failures)
        extra["checks"] = {r["op"]: {k: r.get(k) for k in ("rows", "want_rows", "match")}
                           for r in res["runs"]}

    if args.trace:
        spans = json.loads((work / "spans.json").read_text())
        if kind == "batch":
            per_layer = layers.batch_layers(res, spans, cfg["cores"])
            extra["per_query"] = layers.query_table(res, spans)
        else:
            per_layer = layers.stream_layers(res, spans, cfg["cores"],
                                             stream_latencies(res, failures, True),
                                             stream_latencies(res, [], False))
        extra["self_time_by_kind_s"] = layers.self_times(spans)
        out_metrics = per_layer
        extra["end_to_end_untraced"] = {k: v[0] for k, v in metrics.items()}
    else:
        out_metrics = metrics

    failed = len(failures)
    correct = failed == 0
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "smoke": args.smoke, "failures": failures[:20], **extra}
    (work / "summary.json").write_text(json.dumps(summary, indent=1, default=str))
    for f in failures[:20]:
        print(f"FAIL {f}")
    for k, (v, unit) in out_metrics.items():
        print(f"{k} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": None if v != v else v, "unit": unit}
                    for k, (v, unit) in out_metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
