#!/usr/bin/env python3
"""Median request latency per request kind, parent beside change.

Usage: python3 tools/ops_compare.py --parent <ops.txt>... --change <ops.txt>...

A `search` run of the benchmark (`perfbench/run.py --workload search`)
writes one line per timed request to .bench_build/run/search/work/ops.txt:
its latency and its label, e.g.
`  1291.0 ms  req-5 hybrid k=10 filter=chunk_index q='dica sugozuso'`.
Given copies of those files from the parent's and the change's runs of an
A/B, prints for each request kind (dense, sparse, hybrid, hybrid plain,
filter=chunk_index, filter=doc_id, rerank, k > 10, and all requests) the
request count and median latency on each side, and the change's median
relative to the parent's, so the A/B shows which kind moved. A request
counts in every kind it has (a filtered hybrid request is in `hybrid` and
in its filter's kind). `hybrid plain` is a hybrid request with no filter,
no reranker and k = 10, the kind a `search` run's median request has.
Reads the given files only.
"""
import argparse
import re
import statistics

LINE = re.compile(r"^\s*([0-9.]+) ms\s+(req-\d+ .*)$")

KINDS = [
    ("dense", lambda w: "dense" in w),
    ("sparse", lambda w: "sparse" in w),
    ("hybrid", lambda w: "hybrid" in w),
    ("hybrid plain", lambda w: "hybrid" in w and "k=10" in w and not any(
        x.startswith("filter=") or x == "rerank" for x in w)),
    ("filter=chunk_index", lambda w: "filter=chunk_index" in w),
    ("filter=doc_id", lambda w: "filter=doc_id" in w),
    ("rerank", lambda w: "rerank" in w),
    ("k > 10", lambda w: any(x.startswith("k=") and int(x[2:]) > 10
                             for x in w)),
    ("all", lambda w: True),
]


def load(paths):
    """[(latency ms, label words before the query)] over all files."""
    ops = []
    for path in paths:
        with open(path) as f:
            for line in f:
                m = LINE.match(line)
                if m:
                    words = m.group(2).split(" q=")[0].split()
                    ops.append((float(m.group(1)), words))
    return ops


def medians(ops):
    """{kind: (count, median ms)} for the kinds present in `ops`."""
    out = {}
    for kind, has in KINDS:
        lat = [ms for ms, words in ops if has(words)]
        if lat:
            out[kind] = (len(lat), statistics.median(lat))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    args = ap.parse_args()
    a, b = medians(load(args.parent)), medians(load(args.change))
    print(f"{'kind':<20}{'n':>6}{'parent ms':>12}{'n':>6}{'change ms':>12}"
          f"{'change':>9}")
    for kind, _ in KINDS:
        if kind not in a and kind not in b:
            continue
        na, ma = a.get(kind, (0, float("nan")))
        nb, mb = b.get(kind, (0, float("nan")))
        rel = f"{(mb / ma - 1) * 100:+.1f}%" if na and nb else "-"
        print(f"{kind:<20}{na:>6}{ma:>12.1f}{nb:>6}{mb:>12.1f}{rel:>9}")


if __name__ == "__main__":
    main()
