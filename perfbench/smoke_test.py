#!/usr/bin/env python3
"""The benchmark's own tests, on the smoke inputs (sf0.001 tables, three
batch queries, a tiny stream through all six stream/batch twin pairs).
A broken benchmark fails here within about a minute per run (JVM and
Spark start-up plus first-query compilation), and a broken build within
seconds, instead of after a full run.

Usage (from the repository root): python3 perfbench/smoke_test.py

Checks, for every workload in BENCHMARK.json:
  - untraced and traced smoke runs exit 0 and end with one JSON line
    whose metrics are exactly the end-to-end (resp. per-layer) names,
    each with its declared unit, and report correct=true, failed=0;
  - the traced run of a batch workload, given `--queries`, tables
    exactly those queries in its per-query split;
that the stream generator's traffic figures in workloads.json are the
ones measured on the table they name; and that the benchmark exits
nonzero, printing no result, in a copy that holds only BENCHMARK.json
and the benchmark's own directories.
"""
import json
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "perfbench"))
sys.dont_write_bytecode = True

import checks  # noqa: E402


def last_json(stdout):
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    return json.loads(lines[-1]) if lines else None


def run(bench, workload, trace, cwd, extra=()):
    cmd = bench["command"] + ["--workload", workload, "--seed", "7",
                              "--seconds", "1", "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=600)


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    cfg = json.loads((ROOT / "perfbench" / "workloads.json").read_text())
    build_root = pathlib.Path(os.environ.get("CARGO_TARGET_DIR", ROOT / ".bench_build")).resolve()
    failures = []

    for name, spec in cfg["workloads"].items():
        if "traffic" in spec:
            want = {k: v for k, v in spec["traffic"].items() if k != "measured_on"}
            got = checks.measure_events(ROOT / spec["traffic"]["measured_on"])
            if got != want:
                failures.append(f"{name}: traffic in workloads.json {want} != measured {got}")
            else:
                print(f"ok {name} traffic matches {spec['traffic']['measured_on']}")

    for w in bench["workloads"]:
        spec = cfg["workloads"][w["name"]]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            extra = ["--smoke"]
            if trace and spec["kind"] == "batch":
                # the last query and the first: not the smoke default (the first three)
                picked = [spec["queries"][-1], spec["queries"][0]]
                extra += ["--queries", ",".join(picked)]
            r = run(bench, w["name"], trace, ROOT, extra)
            res = last_json(r.stdout) if r.returncode == 0 else None
            want = {m["name"]: m["unit"] for m in bench[key]}
            if res is None:
                failures.append(f"{w['name']} trace={trace}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                failures.append(f"{w['name']} trace={trace}: metrics {got} != {want}")
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                failures.append(f"{w['name']} trace={trace}: {res}")
            if "--queries" in extra:
                summary = build_root / "perfbench" / "work" / f"{w['name']}-7-1" / "summary.json"
                tabled = sorted(json.loads(summary.read_text())["per_query"])
                if tabled != sorted(picked):
                    failures.append(f"{w['name']} --queries {picked}: per-query table has {tabled}")
            print(f"{'ok' if not failures else '..'} {w['name']} trace={trace} "
                  f"attempted={res['attempted']}")

    bare = build_root / "perfbench" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in bench["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
    w = bench["workloads"][0]["name"]
    r = run(bench, w, 0, bare)
    if r.returncode == 0 or (r.stdout.strip() and r.stdout.strip().splitlines()[-1].startswith("{")):
        failures.append(f"bare copy: exit {r.returncode}, stdout {r.stdout[-300:]!r}")
    else:
        print(f"ok bare copy exits {r.returncode} without a result")
    shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print("FAIL", f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
