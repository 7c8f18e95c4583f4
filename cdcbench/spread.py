#!/usr/bin/env python3
"""Runs one workload under several seeds and prints, per metric, the median
and the interquartile range as a share of the median (the steadiness check
BENCHMARK.json's bounds are judged by).

    python3 cdcbench/spread.py --workload mor_serve --seeds 1-10 [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    values, walls = {}, []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(seconds), "--trace", str(a.trace)],
                           capture_output=True, text=True)
        walls.append(time.time() - t0)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{"):
            print(f"seed {s}: exit {p.returncode}\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        r = json.loads(last)
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {s}: {walls[-1]:.0f} s, correct={r['correct']}, "
              + ", ".join(f"{k}={m['value']:.4g}" for k, m in sorted(r["metrics"].items())), flush=True)
    print(f"wall per run: median {statistics.median(walls):.0f} s, max {max(walls):.0f} s")
    for k, xs in sorted(values.items()):
        med = statistics.median(xs)
        if len(xs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            print(f"{k:32s} median {med:.6g}  IQR/median {(q3 - q1) / med:.4f}  n={len(xs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
