#!/usr/bin/env python3
"""Run a workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload view_serve --seeds 1-5 [--seconds 10] [--trace 0]

For every metric of the result line it prints the median and the distance
between the first and third quartile as a share of the median (the
statistics.quantiles(values, n=4) quartiles), next to the metric's bound
from BENCHMARK.json. Exits 1 if any run fails or is incorrect.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--detail", action="store_true", help="also report the detail line's metrics")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, bad = {}, 0
    for s in seeds(a.seeds):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(seconds), "--trace", str(a.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {s}: run failed (exit {p.returncode})")
            bad += 1
            continue
        r = json.loads(lines[-1])
        if not r["correct"] or r["failed"]:
            bad += 1
        print(f"seed {s}: correct={r['correct']} attempted={r['attempted']} failed={r['failed']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        if a.detail and len(lines) > 1:
            for k, v in json.loads(lines[-2])["metrics"].items():
                values.setdefault("detail." + k, []).append(v["value"])
    print(f"{'metric':40} {'median':>12} {'iqr/med':>8} {'bound':>6}")
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2:
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med if med else float("nan")
        else:
            spread = float("nan")
        b = bounds.get(k)
        print(f"{k:40} {med:12.4f} {spread:8.3f} {b if b is not None else '':>6}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
