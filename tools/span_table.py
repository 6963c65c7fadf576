#!/usr/bin/env python3
"""Tabulate the spans of a traced benchmark run.

Usage: python3 tools/span_table.py <spans.jsonl> [<spans.jsonl>]

A traced run (`perfbench/run.py --trace 1`) writes one JSON line per span to
.bench_build/run/<workload>/work/spans.jsonl: its wall time and the Spark
work of its own job group (jobs, stages, tasks, task time, shuffle bytes). Given one file, prints
one row per operation and span in run order, then the operation's total:
the wall of its top-level spans and the Spark work of all its spans. Given
two files (A and B), prints one row per span name with the median over
operations of each column, A beside B, and the same for the per-operation
totals.
"""
import json
import statistics
import sys

COLS = ["wall_ms", "jobs", "stages", "tasks", "task_ms",
        "shuffle_read_bytes", "shuffle_write_bytes"]
TOTAL = "(op total)"


def load(path):
    """[(op, span name, {col: value})] in run order, op totals included."""
    rows, totals = [], {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            s = json.loads(line)
            v = {c: s[c] for c in COLS[1:]}
            v["wall_ms"] = s["end_ms"] - s["start_ms"]
            rows.append((s["op"], s["name"], v))
            t = totals.setdefault(s["op"], dict.fromkeys(COLS, 0.0))
            for c in COLS[1:]:
                t[c] += v[c]
            if s["parent"] == 0:
                t["wall_ms"] += v["wall_ms"]
    out = []
    for op in dict.fromkeys(r[0] for r in rows):
        out += [r for r in rows if r[0] == op] + [(op, TOTAL, totals[op])]
    return out


def fmt(x):
    return f"{x:.1f}" if isinstance(x, float) and not x.is_integer() \
        else f"{int(x)}"


def medians(rows):
    """{span name: {col: median over ops}}, in first-seen order."""
    by = {}
    for _, name, v in rows:
        by.setdefault(name, []).append(v)
    return {n: {c: statistics.median(v[c] for v in vs) for c in COLS}
            for n, vs in by.items()}


def table(header, body):
    widths = [max(len(str(r[i])) for r in [header] + body)
              for i in range(len(header))]
    for r in [header] + body:
        print("  ".join(str(x).rjust(w) if i else str(x).ljust(w)
                        for i, (x, w) in enumerate(zip(r, widths))))


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    if len(argv) == 2:
        table(["op", "span"] + COLS,
              [[op, name] + [fmt(v[c]) for c in COLS]
               for op, name, v in load(argv[1])])
        return 0
    a, b = medians(load(argv[1])), medians(load(argv[2]))
    names = list(dict.fromkeys([n for n in a if n != TOTAL] +
                               [n for n in b if n != TOTAL] + [TOTAL]))
    header = ["span (median per op)"] + [f"{c} {s}" for c in COLS
                                         for s in ("A", "B")]
    body = [[n] + [fmt(m[n][c]) if n in m else "-"
                   for c in COLS for m in (a, b)] for n in names]
    table(header, body)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
