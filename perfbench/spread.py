#!/usr/bin/env python3
"""Run the benchmark over several seeds and report, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median, the statistic the
benchmark's bounds are judged by.

    python3 perfbench/spread.py --workload tpch --seeds 1 2 3 4 5 [--seconds 5]

Run from the repository root. Each seed is one run of perfbench/run.py.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in a.seeds:
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(seconds), "--trace", "0"],
                           capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{p.stderr[-2000:]}")
        result = json.loads(p.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4)
        spread = (q[2] - q[0]) / med
        print(f"{k:<18} median {med:10.4f}  spread {spread:6.3f}  bound {bounds[k]}"
              f"  {'ok' if spread <= bounds[k] / 3 else 'WIDE'}")


if __name__ == "__main__":
    main()
