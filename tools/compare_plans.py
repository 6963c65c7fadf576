#!/usr/bin/env python3
"""Compare two plan dumps (`graft.Prof` with PROF_EXPLAIN) query by query.

Usage: python3 tools/compare_plans.py <dirA> <dirB>

Each <name>.txt plan is normalized before comparing. These carry no
meaning across runs, so they are replaced by fixed tokens: expression
ids (`#123`, also in `id=#123`), higher-order-function variable numbers
(`lambda x_12`), `plan_id=` markers, the random digits
that createTempDirectory appends to a `graft-...` prefix, blue/green
generation numbers (`/gen-3`), JVM lambda class names and identity
hash codes (`@1a2b3c`), RDD ids and the Scala source lines that created
them (and the file, when it is a declared-query module), random
per-run UUIDs, whole-stage codegen ids, and AQE query stage ids. The
executions a dump lists are compared in sorted order, since
concurrent jobs complete in no fixed order. Prints one line
per differing or missing query, with the first differing lines, and
exits 1 on any difference, 0 when every plan is identical. This is the
"plans unchanged" gate for refactors; tools/compare_verify.py is its
twin for outputs.
"""
import difflib
import os
import re
import sys

SHOW = 6  # differing lines printed per query

NORMALIZE = [
    (re.compile(r"#\d+"), "#N"),
    # higher-order-function variables (`lambda x_12`) number from one
    # JVM-wide counter, so they shift with every lambda built before
    (re.compile(r"(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    # createTempDirectory("graft-x") -> graft-x<random digits>
    (re.compile(r"(graft-[\w-]*[A-Za-z_-])\d+(?!\w)"), r"\1N"),
    # a fixed root's blue/green generation counts the runs before it
    (re.compile(r"/gen-\d+"), "/gen-N"),
    # JVM-assigned lambda class names and identity hash codes
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"(?<=[\w$])@[0-9a-f]+\b"), "@N"),
    # RDD ids and the source line that created an RDD
    (re.compile(r"(RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"(\w\.scala):\d+"), r"\1:N"),
    # the declared queries live in the graft.queries modules (before
    # that, all in SparkEntry.scala): only the file an RDD's call site
    # names differs between the layouts
    (re.compile(r"\b(?:SparkEntry|Fixtures|OracleSql|\w+Queries)\.scala:N"),
     "QUERIES.scala:N"),
    # random per-run UUIDs: streaming run ids and watermark node ids,
    # and the names of the parquet part files a run writes
    (re.compile(r"\b[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}\b"),
     "UUID"),
    # ids numbered in the order concurrent subqueries and AQE stages
    # happen to be prepared
    (re.compile(r"codegen id : \d+"), "codegen id : N"),
    (re.compile(r"(QueryStage) \d+"), r"\1 N"),
    (re.compile(r"(QueryStage\n(?:Output.*\n)?Arguments: )\d+"), r"\1N"),
]


EXECUTION = re.compile(r"^==== execution \d+ ====\n", re.M)


def normalize(text):
    for pattern, repl in NORMALIZE:
        text = pattern.sub(repl, text)
    # a dump lists its query executions in completion order, which
    # concurrent jobs do not fix: compare them as a sorted list
    blocks = sorted(EXECUTION.split(text))
    return [line for b in blocks for line in ["==== execution ===="] + b.splitlines()]


def plans(root):
    return {f[:-len(".txt")] for f in os.listdir(root) if f.endswith(".txt")}


def read(root, name):
    with open(os.path.join(root, name + ".txt"), encoding="utf-8") as f:
        return normalize(f.read())


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    a, b = sys.argv[1:]
    pa, pb = plans(a), plans(b)
    for name in sorted(pa ^ pb):
        print(f"DIFF {name}: plan only in {'A' if name in pa else 'B'}")
    changed = 0
    for name in sorted(pa & pb):
        la, lb = read(a, name), read(b, name)
        if la == lb:
            continue
        changed += 1
        body = [line for line in difflib.unified_diff(la, lb, "A", "B",
                                                      n=0, lineterm="")
                if line[:1] in "+-" and line[:3] not in ("---", "+++")]
        print(f"DIFF {name}: {len(body)} lines differ")
        for line in body[:SHOW]:
            print(f"  {line}")
    print(f"{len(pa & pb) - changed} identical, {changed + len(pa ^ pb)} "
          f"differing ({len(pa)} plans in A, {len(pb)} in B)")
    sys.exit(1 if changed or pa ^ pb else 0)


if __name__ == "__main__":
    main()
