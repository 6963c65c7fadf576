#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload search --seeds 1-10

For every end-to-end metric it prints the median and the distance between
the first and third quartiles (statistics.quantiles, n=4) as a share of the
median, next to the metric's bound from BENCHMARK.json. A benchmark is
steady when each spread is well below its bound. Raw results are appended
to .bench_build/spread-<workload>.jsonl, and each run's report and
per-operation latencies to .bench_build/spread-<workload>-<seed>.txt.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = os.path.join(ROOT, ".bench_build", "spread-%s.jsonl" % a.workload)
    values = {}
    for seed in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds",
             str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            print("seed %d failed:\n%s" % (seed, p.stderr[-2000:]))
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, **res}) + "\n")
        ops = os.path.join(ROOT, ".bench_build", "run", a.workload, "work",
                           "ops.txt")
        with open(ops) as f:
            ops_text = f.read()
        with open(log[:-len(".jsonl")] + "-%d.txt" % seed, "w") as f:
            f.write(p.stdout + "\n" + ops_text)
        print("seed %d: wall %.0f s, correct=%s, %s" % (
            seed, wall, res["correct"], ", ".join(
                "%s=%.4g" % (k, v["value"]) for k, v in res["metrics"].items())),
            flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print("%-28s median %12.4f  spread %.3f  bound %s" % (
            k, med, spread, bounds[k]))


if __name__ == "__main__":
    main()
