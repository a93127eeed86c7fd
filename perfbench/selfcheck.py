#!/usr/bin/env python3
"""Non-vacuity self-check of the benchmark.

    python3 perfbench/selfcheck.py

1. A tiny smoke run of each workload, untraced and traced, must be correct
   and emit exactly the metrics BENCHMARK.json names, with their units.
2. The same smoke with every expected result deliberately corrupted (the
   batch_pack checksums, the view results) must
   report correct=false with failed operations.
3. In each traced smoke, the per-layer self times (all but self.state_ms,
   which is task time) must add up to no more than the time the traced
   ops' root spans cover: no span's time is counted under two layers.
4. In a directory holding only BENCHMARK.json and the benchmark's own
   files, the command must exit non-zero without printing a result.
Exits 1 on the first failed assertion.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, cwd=ROOT, timeout=400):
    t = time.time()
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args, cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=timeout)
    return p, time.time() - t


def result(p):
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]) if p.returncode == 0 and lines else None


def check(ok, what):
    print(("ok    " if ok else "FAIL  ") + what, flush=True)
    if not ok:
        sys.exit(1)


def build_outputs(d, names):
    """What sbt leaves in the benchmark's directory: not part of it."""
    return [n for n in names if n in ("target", ".bsp") or
            (n == "project" and os.path.basename(d) == "project")]


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    expect = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
              1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for w in [x["name"] for x in bench["workloads"]]:
        for trace in (0, 1):
            p, secs = run(["--workload", w, "--seed", "1", "--seconds", "2", "--trace", str(trace), "--smoke"])
            r = result(p)
            check(r is not None, f"{w} trace={trace}: smoke run gives a result ({secs:.0f}s)")
            check(r["correct"] and r["failed"] == 0 and r["attempted"] > 0,
                  f"{w} trace={trace}: correct, {r['attempted']} attempted, {r['failed']} failed")
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            check(got == expect[trace], f"{w} trace={trace}: emits exactly the {len(expect[trace])} named metrics"
                  + ("" if got == expect[trace] else f" (missing {sorted(set(expect[trace]) - set(got))},"
                     f" extra {sorted(set(got) - set(expect[trace]))})"))
            vals = [v["value"] for v in r["metrics"].values()]
            check(all(isinstance(v, (int, float)) and math.isfinite(v) for v in vals),
                  f"{w} trace={trace}: every value is a finite number")
            if trace == 0:
                check(all(v > 0 for v in vals), f"{w}: every end-to-end metric is non-zero")
            else:
                detail = json.loads(p.stdout.strip().splitlines()[-2])["metrics"]
                split = sum(v["value"] for k, v in r["metrics"].items()
                            if k.startswith("self.") and k != "self.state_ms")
                roots = detail["trace.root_ms"]["value"]
                check(0 < split <= roots * 1.02 + 5,
                      f"{w}: self times ({split:.0f} ms) split the traced ops' {roots:.0f} ms, none counted twice")
        p, _ = run(["--workload", w, "--seed", "1", "--seconds", "2", "--smoke", "--corrupt-expected"])
        r = result(p)
        check(r is not None and not r["correct"] and r["failed"] > 0,
              f"{w}: a corrupted expected result fails the run"
              + (f" ({r['failed']} failed)" if r else ""))

    bare = os.path.join(ROOT, ".bench_build", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path), ignore=build_outputs)
    p, secs = run(["--workload", bench["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"],
                  cwd=bare, timeout=180)
    check(p.returncode != 0 and not any(l.startswith("{") for l in p.stdout.splitlines()),
          f"bare directory: exits {p.returncode} without a result ({secs:.0f}s)")
    shutil.rmtree(bare, ignore_errors=True)
    print("self-check passed")


if __name__ == "__main__":
    main()
