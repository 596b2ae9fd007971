#!/usr/bin/env python3
"""Run one workload K times and print each metric's median and quartiles.

    python3 perfbench/steady.py --workload commit_churn --runs 5 --seed 7
    python3 perfbench/steady.py --workload curation --runs 10 --vary-seed

By default every run uses the same seed (run-to-run noise of one input);
--vary-seed uses seeds seed, seed+1, ... (the spread across inputs). The
spread column is (q3 - q1) / median, with quartiles as
statistics.quantiles(values, n=4) gives them. Runs are untraced, so the
metrics are the end-to-end ones.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"run with seed {seed} failed (exit {r.returncode})")
    return json.loads(lines[-1])


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--vary-seed", action="store_true")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    values, failed = {}, 0
    for i in range(a.runs):
        seed = a.seed + i if a.vary_seed else a.seed
        res = run_once(a.workload, seed, a.seconds)
        failed += res["failed"]
        for k, v in res["metrics"].items():
            values.setdefault(k, (v["unit"], []))[1].append(v["value"])
        print(f"run {i + 1}/{a.runs} seed {seed}: correct={res['correct']} "
              f"failed={res['failed']}", file=sys.stderr)

    print(f"{a.workload}: {a.runs} runs, {failed} failed ops")
    print(f"{'metric':44s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s} {'bound':>6s}")
    for k, (unit, vs) in sorted(values.items()):
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        print(f"{k:44s} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.3f} "
              f"{'' if b is None else b:>6} {unit}")


if __name__ == "__main__":
    main()
