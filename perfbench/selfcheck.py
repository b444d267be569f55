#!/usr/bin/env python3
"""Self-check of the benchmark harness.

    python3 perfbench/selfcheck.py            # every workload, small inputs
    python3 perfbench/selfcheck.py --exact    # also: exact counters repeat

For each workload it makes a one-second run on small inputs, untraced and
traced, and asserts that the last line is the result object, that every
metric BENCHMARK.json names is present with its unit, and that every
correctness check passed. With --exact it also runs each workload of
BENCHMARK.json traced twice with one seed at full size and asserts that
the counters listed in exact_counters.json read the same both times.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, trace, scale):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--scale", str(scale)]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stdout


def check_shape(spec, workload, trace, res, out):
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, out
    for m in want:
        got = res["metrics"].get(m["name"])
        assert got is not None, f"{workload}: metric {m['name']} missing"
        assert got["unit"] == m["unit"], f"{workload}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{workload}: {m['name']} not a number"
    assert set(res["metrics"]) == {m["name"] for m in want}, "extra metrics"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--exact", action="store_true")
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = [w["name"] for w in spec["workloads"]] + ["analytics"]
    for w in workloads:
        for trace in (0, 1):
            res, out = run(w, args.seed, trace, scale=0.25)
            check_shape(spec, w, trace, res, out)
            print(f"ok {w} trace={trace} attempted={res['attempted']}", flush=True)
    if args.exact:
        with open(os.path.join(HERE, "exact_counters.json")) as f:
            exact = json.load(f)
        for w in (x["name"] for x in spec["workloads"]):
            a, _ = run(w, args.seed, 1, scale=1.0)
            b, _ = run(w, args.seed, 1, scale=1.0)
            for name in exact[w]["exact"]:
                va, vb = a["metrics"][name]["value"], b["metrics"][name]["value"]
                assert va == vb, f"{w}: exact counter {name} differs: {va} vs {vb}"
            print(f"ok {w} exact counters repeat ({len(exact[w]['exact'])})", flush=True)
    print("SELFCHECK-OK")


if __name__ == "__main__":
    main()
