#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it makes one untraced and one traced
run with `--size tiny` and checks that
  - the result line is well formed, `correct` is true and nothing failed;
  - every end-to-end metric (untraced) and every per-layer metric (traced)
    is printed with the unit BENCHMARK.json gives it;
  - the traced run wrote spans whose parents exist and a non-empty
    per-layer table.
Exits 1 on the first failure.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SEED = 1


def fail(msg):
    print(f"selftest: FAIL: {msg}")
    sys.exit(1)


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(SEED), "--seconds", "2", "--trace", str(trace),
                        "--size", "tiny"], cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        fail(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(lines[-1])


def check_metrics(workload, trace, res, spec):
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{workload}: result keys {sorted(res)}")
    if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
        fail(f"{workload} trace={trace}: correct={res['correct']} failed={res['failed']}")
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        fail(f"{workload} trace={trace}: metrics/units differ: "
             f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
             f"units {[(k, got[k], want[k]) for k in want if k in got and got[k] != want[k]]}")
    for k, v in res["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            fail(f"{workload}: {k} value {v['value']!r}")


def check_trace(workload):
    path = os.path.join(BENCH, ".work", f"trace-{workload}-{SEED}.json")
    with open(path) as f:
        tr = json.load(f)
    spans = tr["spans"]
    ids = {s["id"] for s in spans}
    if not spans or any(s["parent"] != -1 and s["parent"] not in ids for s in spans):
        fail(f"{workload}: spans missing or with unknown parents")
    if not any(s["parent"] != -1 for s in spans):
        fail(f"{workload}: no span has a parent")
    if not tr["layers"]:
        fail(f"{workload}: empty per-layer table")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (w["name"] for w in bench["workloads"]):
        check_metrics(w, 0, run(w, 0), bench["end_to_end"])
        check_metrics(w, 1, run(w, 1), bench["per_layer"])
        check_trace(w)
        print(f"selftest: {w} ok")
    print("selftest: ok")


if __name__ == "__main__":
    main()
