#!/usr/bin/env python3
"""Full-surface plan audit (optimization-round tooling, VERDICT r21 item 5).

Reads every `<query>_<suffix>.txt` formatted-explain dump produced by
`graft.DumpPlans` from a directory and writes PLAN_AUDIT.md: one row per
query — Exchange count, join operators by type, Generate (explode) count,
whether every parquet scan carries PushedFilters, plus a red-flag section
(CartesianProduct anywhere, BroadcastNestedLoopJoin, scans with no pushed
filters). The committed artifact makes the "zero CartesianProduct" claim
auditable in-repo without running Spark.

Usage: python3 tools/plan_audit.py <plans-dir> <suffix> [out.md]
"""
import os
import re
import sys

plans_dir = sys.argv[1]
suffix = sys.argv[2]
out_path = sys.argv[3] if len(sys.argv) > 3 else "PLAN_AUDIT.md"

JOIN_OPS = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
]

rows = []
flags = []
tail = "_%s.txt" % suffix
for fn in sorted(os.listdir(plans_dir)):
    if not fn.endswith(tail):
        continue
    name = fn[: -len(tail)]
    text = open(os.path.join(plans_dir, fn), encoding="utf-8").read()
    # operator census from the numbered-tree section ("(n) OpName")
    ops = re.findall(r"^\s*[:+\-\s]*\(\d+\)\s+([A-Za-z]+)", text, re.M)
    n_exchange = sum(1 for o in ops if o == "Exchange")
    n_reused = sum(1 for o in ops if o == "ReusedExchange")
    n_generate = sum(1 for o in ops if o == "Generate")
    joins = {j: sum(1 for o in ops if o == j) for j in JOIN_OPS}
    # scans: every "Scan parquet" detail block should list PushedFilters
    n_scan = sum(1 for o in ops if o == "Scan")
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", text))
    pushed_empty = len(re.findall(r"PushedFilters: \[\]", text))
    if joins["CartesianProduct"]:
        flags.append("%s: CartesianProduct x%d" % (name, joins["CartesianProduct"]))
    if joins["BroadcastNestedLoopJoin"]:
        # carry the conditions so the flag is triageable in-place: a BNLJ
        # against a broadcast 1-row aggregate (report assembly) or a
        # broadcast bounded query set (the ANN non-equi shape) is the
        # intended plan, not an accident
        conds = sorted(set(re.findall(
            r"\(\d+\) BroadcastNestedLoopJoin[^\n]*\n(?:[^\n]*\n)?Join type: ([^\n]*)",
            text)))
        nocond = len(re.findall(
            r"\(\d+\) BroadcastNestedLoopJoin.*\n(?:.*\n)?Join condition: None",
            text))
        flags.append("%s: BroadcastNestedLoopJoin x%d (types: %s; %d condition-free 1-row crossJoins)"
                     % (name, joins["BroadcastNestedLoopJoin"],
                        ",".join(conds) or "?", nocond))
    join_s = " ".join(
        "%s:%d" % (j.replace("BroadcastHashJoin", "BHJ")
                    .replace("SortMergeJoin", "SMJ")
                    .replace("ShuffledHashJoin", "SHJ")
                    .replace("BroadcastNestedLoopJoin", "BNLJ")
                    .replace("CartesianProduct", "CART"), n)
        for j, n in joins.items() if n
    ) or "-"
    rows.append((name, n_exchange, n_reused, n_generate, join_s, n_scan,
                 pushed, pushed_empty))

with open(out_path, "w", encoding="utf-8") as f:
    f.write("# PLAN_AUDIT — full-surface physical-plan census\n\n")
    f.write("Generated by `tools/plan_audit.py` from `graft.DumpPlans` dumps ")
    f.write("(`%s`, suffix `%s`), %d queries.\n\n" % (plans_dir, suffix, len(rows)))
    f.write("## Red flags\n\n")
    if flags:
        for fl in flags:
            f.write("- %s\n" % fl)
    else:
        f.write("None: zero `CartesianProduct`, zero `BroadcastNestedLoopJoin` "
                "across every dumped plan.\n")
    f.write("\n## Per-query census\n\n")
    f.write("| query | Exchange | ReusedExchange | Generate | joins | scans | "
            "scans w/ PushedFilters | scans w/ empty PushedFilters |\n")
    f.write("|---|---|---|---|---|---|---|---|\n")
    for r in rows:
        f.write("| %s | %d | %d | %d | %s | %d | %d | %d |\n" % r)

print("wrote %s (%d queries, %d red flags)" % (out_path, len(rows), len(flags)))
