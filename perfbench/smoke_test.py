#!/usr/bin/env python3
"""Smoke test of the benchmark, at sf0.001 with one short pass.

Checks, for every workload in BENCHMARK.json, that an untraced run
prints every end-to-end metric and a traced run every per-layer metric,
each as a number with its unit, and that a run whose expected result for
q1_agg was deliberately changed counts that op as failed in
op_error_rate.

Usage: python3 perfbench/smoke_test.py [--data SF0.001_DIR]
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import run as bench  # noqa: E402


def run(data, workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--data", data, *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise AssertionError(f"{' '.join(cmd)} exited {p.returncode}")
    last = p.stdout.strip().splitlines()[-1]
    r = json.loads(last)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
    assert isinstance(r["attempted"], int) and r["attempted"] >= 1, r
    return r


def check_metrics(r, specs, what):
    names = [m["name"] for m in specs]
    assert sorted(r["metrics"]) == sorted(names), (what, sorted(set(names) ^ set(r["metrics"])))
    for m in specs:
        got = r["metrics"][m["name"]]
        assert set(got) == {"value", "unit"}, (what, m["name"], got)
        assert got["unit"] == m["unit"], (what, m["name"], got["unit"], m["unit"])
        assert isinstance(got["value"], (int, float)), (what, m["name"], got)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--data")
    a = ap.parse_args()
    data = a.data or os.path.join(os.path.dirname(bench.default_data().rstrip("/")), "sf0.001")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in [x["name"] for x in spec["workloads"]]:
        clean = run(data, w, 0)
        check_metrics(clean, spec["end_to_end"], f"{w} untraced")
        assert clean["correct"] and clean["failed"] == 0, (w, clean)
        for m in spec["end_to_end"]:
            assert clean["metrics"][m["name"]]["value"] > 0, (w, m["name"], clean["metrics"][m["name"]])
        traced = run(data, w, 1)
        check_metrics(traced, spec["per_layer"], f"{w} traced")
        assert traced["correct"], (w, traced)
        print(f"ok  {w}: {clean['attempted']} ops untraced, {len(traced['metrics'])} layer metrics")
    wrong = run(data, "sql_mix", 0, "--corrupt-expected", "q1_agg")
    assert not wrong["correct"] and wrong["failed"] >= 1, wrong
    rate = wrong["metrics"]["op_error_rate"]["value"]
    assert rate >= wrong["failed"] / wrong["attempted"] > 0, wrong
    print(f"ok  a wrong expected result counts: {wrong['failed']} of {wrong['attempted']} failed, "
          f"op_error_rate {rate:.3f}")


if __name__ == "__main__":
    main()
