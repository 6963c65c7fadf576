#!/usr/bin/env python3
"""Self-test of the benchmark: a tiny-size run of every workload (the ones
BENCHMARK.json lists and `ingest`), untraced and traced. It asserts that
every metric BENCHMARK.json names is printed with its unit, that every
output check passed, and that the benchmark refuses to run from a
directory that holds only the benchmark.

    python3 perfbench/selftest.py
"""

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "4", "--trace", trace, "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, "%s trace=%s failed:\n%s" % (
        workload, trace, p.stderr[-3000:])
    return p.stdout.strip().splitlines()


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for w in sorted(gen.GENERATORS):
        for trace, spec in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            lines = run(w, trace)
            res = json.loads(lines[-1])
            report = "\n".join(lines[:-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append("%s/%s: keys %s" % (w, trace, sorted(res)))
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                problems.append("%s/%s: checks failed:\n%s" % (w, trace, report))
            if "fail_frac = " not in report:
                problems.append("%s/%s: fail_frac not reported" % (w, trace))
            for m in spec:
                got = res["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"] or \
                        not isinstance(got["value"], (int, float)):
                    problems.append("%s/%s: metric %s missing or wrong: %s"
                                    % (w, trace, m["name"], got))
                elif "metric %s = " % m["name"] not in report:
                    problems.append("%s/%s: metric %s not printed"
                                    % (w, trace, m["name"]))
            extra = set(res["metrics"]) - {m["name"] for m in spec}
            if extra:
                problems.append("%s/%s: unlisted metrics %s" % (w, trace, extra))
            print("%s trace=%s: %d metrics, attempted %d, failed %d" % (
                w, trace, len(res["metrics"]), res["attempted"], res["failed"]),
                flush=True)

    # a directory with nothing but the benchmark must be refused
    bare = os.path.join(ROOT, ".bench_build", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "search", "--seed",
         "1", "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180)
    if p.returncode == 0 or p.stdout.strip():
        problems.append("bare directory: exit %d, stdout %r"
                        % (p.returncode, p.stdout[-200:]))
    shutil.rmtree(bare)

    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "passed")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
