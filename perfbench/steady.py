#!/usr/bin/env python3
"""Steadiness tool: run one workload K times on the current checkout and
report, for each end-to-end metric, the median, the quartiles and the
spread (Q3 - Q1) / median against the metric's bound in BENCHMARK.json.
A spread under a third of the bound is the target.

Usage: python3 perfbench/steady.py <workload> [K=10] [first seed=1]
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    workload = sys.argv[1]
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    seed0 = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    runs = []
    for seed in range(seed0, seed0 + k):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: run failed with code {p.returncode}")
        r = json.loads(lines[-1])
        diag = json.loads(lines[-2])["diagnostics"] if len(lines) > 1 else {}
        runs.append(r)
        vals = " ".join(f"{n}={m['value']:.4g}" for n, m in r["metrics"].items())
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']}/{r['attempted']} "
              f"{vals} loadavg={diag.get('loadavg_start')} "
              f"samples_ms={diag.get('batch_ms', diag.get('pass_ms'))}", flush=True)
    shares = {r["failed"] / r["attempted"] for r in runs}
    print(f"failed share per run: {sorted(shares)}")
    print(f"{'metric':<20} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}  verdict")
    for m in spec["end_to_end"]:
        v = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med
        verdict = "ok" if spread < m["bound"] / 3 else ("within bound" if spread <= m["bound"] else "TOO WIDE")
        print(f"{m['name']:<20} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} {spread:>8.3f} {m['bound']:>6}  {verdict}")


if __name__ == "__main__":
    main()
