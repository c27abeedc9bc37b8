#!/usr/bin/env python3
"""Runs one workload once per seed and prints, per end-to-end metric, the
median and the quartile spread (Q3 - Q1) / median, as the acceptance rule
computes them. From the root of a checkout:

    python3 perfbench/spread.py --workload index --seeds 1-10 [--seconds 10]
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
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    values, walls = {}, []
    for s in seeds(a.seeds):
        t0 = time.time()
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                              "--seed", str(s), "--seconds", a.seconds, "--trace", a.trace],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"seed {s}: exit {out.returncode}")
            continue
        r = json.loads(lines[-1])
        print(f"seed {s}: correct={r['correct']} failed={r['failed']}/{r['attempted']} wall={walls[-1]:.1f}s "
              + " ".join(f"{k}={v['value']:.6g}" for k, v in r["metrics"].items()), flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        spread = ""
        if len(vs) >= 2 and med:
            q = statistics.quantiles(vs, n=4)
            spread = f" spread={(q[2] - q[0]) / med:.4f}"
        print(f"{k}: n={len(vs)} median={med:.6g}{spread}")
    if walls:
        print(f"wall: median={statistics.median(walls):.1f}s max={max(walls):.1f}s")


if __name__ == "__main__":
    main()
