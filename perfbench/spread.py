#!/usr/bin/env python3
"""Runs one workload on several seeds and reports, per metric, the median
and the spread (quartile distance over median) of the values.

    python3 perfbench/spread.py --workload lp_solve --seeds 1 2 3 4 5 [--trace 1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    runs = []
    for seed in a.seeds:
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                              "--seed", str(seed), "--seconds", a.seconds, "--trace", a.trace],
                             capture_output=True, text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{out.stderr}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}",
              file=sys.stderr)
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med, sp = spread(vals) if len(vals) > 1 else (vals[0], 0.0)
        print(f"{name:32s} median {med:14.4f} {runs[0]['metrics'][name]['unit']:6s} spread {sp:7.3f}")


if __name__ == "__main__":
    main()
