#!/usr/bin/env python3
"""Compare two sets of physical plans written by graft.DumpPlans.

For each query q with both <dir>/<q>_<A>.txt and <dir>/<q>_<B>.txt, the
two plans are compared after stripping what differs between two dumps of
the same plan:

  #123            expression ids
  plan_id=123     exchange ids
  RDD[123]        RDD ids of checkpointed scans
  File.scala:123  the source line of a checkpoint's call site
  [[D@1b2c3d      the identity hash of an array a kernel holds
  lambda x_12     a lambda variable's fresh name (a JVM-wide counter)

Each pair is reported as identical, or its unified diff is printed. A
query dumped under only one suffix is reported too. Exit status: 0 when
every pair is identical, 1 otherwise.

Usage: python3 tools/plan_diff.py <dir> <suffixA> <suffixB>
e.g.   python3 tools/plan_diff.py plans/r21 before after
"""
import difflib
import os
import re
import sys

VOLATILE = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"(\.scala):\d+"), r"\1"),
    (re.compile(r"(\[+[A-Z])@[0-9a-f]+"), r"\1@"),
    (re.compile(r"(lambda [a-z]+_)\d+"), r"\1"),
]


def normalized(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pattern, repl in VOLATILE:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def queries(d, suffix):
    tail = f"_{suffix}.txt"
    return {n[:-len(tail)] for n in os.listdir(d) if n.endswith(tail)}


def main(argv):
    if len(argv) != 4:
        sys.exit(__doc__.strip().splitlines()[-2])
    d, a, b = argv[1:]
    qa, qb = queries(d, a), queries(d, b)
    differ = 0
    for q in sorted(qa | qb):
        if q not in qa or q not in qb:
            print(f"ONLY {b if q in qb else a}: {q}")
            differ += 1
            continue
        pa = os.path.join(d, f"{q}_{a}.txt")
        pb = os.path.join(d, f"{q}_{b}.txt")
        diff = list(difflib.unified_diff(normalized(pa), normalized(pb), pa, pb))
        if diff:
            print(f"DIFFERS: {q}")
            sys.stdout.writelines(diff)
            differ += 1
        else:
            print(f"identical: {q}")
    print(f"{len(qa | qb) - differ} identical, {differ} differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
