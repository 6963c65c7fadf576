#!/usr/bin/env python3
"""Compare two Verify output directories query by query.

Usage: python3 tools/compare_verify.py <dirA> <dirB>

Each query's parquet output is read with its parquet schema. Column names
and types must match exactly, and the rows must match as multisets: rows are
sorted, and values are compared by type and by exact value (floats bit for
bit, NaN equal to NaN, -0.0 unequal to 0.0). oracle_sql.json must match too.
A failed.json (Verify's record of the queries that failed) on either side is
a difference, one line per failed query. Prints one line per
differing query and exits 1 on any difference, 0 when every output is
identical. This is the quick equivalence gate for changes that claim
"outputs unchanged"; tools/check_oracle.py remains the correctness gate
against the DuckDB oracles.
"""
import json
import os
import sys
from collections import Counter

import pyarrow.parquet as pq

SHOW = 3  # differing rows printed per query


def canon(v):
    """A total, exact, typed representation of one parquet value."""
    if isinstance(v, float):  # repr round-trips: exact, -0.0 != 0.0
        return ("float", repr(v))
    if isinstance(v, dict):
        return ("struct", tuple((k, canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return ("list", tuple(canon(x) for x in v))
    return (type(v).__name__, v)


def read(path):
    table = pq.read_table(path)
    schema = [(f.name, str(f.type)) for f in table.schema]
    rows = Counter(repr(tuple(canon(v) for v in r.values()))
                   for r in table.to_pylist())
    return schema, rows


def queries(root):
    return {d for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))}


def compare(name, a, b):
    """Return a list of difference messages for one query."""
    sa, ra = read(os.path.join(a, name))
    sb, rb = read(os.path.join(b, name))
    if sa != sb:
        return [f"schema {sa} != {sb}"]
    only_a, only_b = ra - rb, rb - ra
    if not only_a and not only_b:
        return []
    out = [f"rows {sum(ra.values())} vs {sum(rb.values())}, "
           f"{sum(only_a.values())} only in A, "
           f"{sum(only_b.values())} only in B"]
    out += [f"  A: {r}" for r in sorted(only_a)[:SHOW]]
    out += [f"  B: {r}" for r in sorted(only_b)[:SHOW]]
    return out


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    a, b = sys.argv[1:]
    qa, qb = queries(a), queries(b)
    diffs = {}
    for name in sorted(qa ^ qb):
        diffs[name] = [f"output only in {'A' if name in qa else 'B'}"]
    for name in sorted(qa & qb):
        try:
            d = compare(name, a, b)
        except Exception as e:  # unreadable output is a difference
            d = [f"read failed: {e}"]
        if d:
            diffs[name] = d
    oracle = [os.path.join(d, "oracle_sql.json") for d in (a, b)]
    if all(os.path.exists(p) for p in oracle):
        sql = [json.load(open(p)) for p in oracle]
        for name in sorted(set(sql[0]) | set(sql[1])):
            if sql[0].get(name) != sql[1].get(name):
                diffs.setdefault(name, []).append("oracle SQL differs")
    elif any(os.path.exists(p) for p in oracle):
        diffs["oracle_sql.json"] = ["present on one side only"]
    for side, root in (("A", a), ("B", b)):
        path = os.path.join(root, "failed.json")
        if os.path.exists(path):
            for name, err in sorted(json.load(open(path)).items()):
                diffs.setdefault(name, []).append(
                    f"failed in {side}: {err.splitlines()[0] if err else err}")
    for name, lines in sorted(diffs.items()):
        print(f"DIFF {name}: {lines[0]}")
        for line in lines[1:]:
            print(line)
    same = len(qa & qb) - len([n for n in diffs if n in qa & qb])
    print(f"{same} identical, {len(diffs)} differing "
          f"({len(qa)} outputs in A, {len(qb)} in B)")
    sys.exit(1 if diffs else 0)


if __name__ == "__main__":
    main()
