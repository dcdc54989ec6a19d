#!/usr/bin/env python3
"""Full-surface plan audit (optimization-round tooling, VERDICT r21 item 5).

Reads every `<query>_<suffix>.txt` formatted-explain dump produced by
`graft.DumpPlans` from a directory and writes PLAN_AUDIT.md: one row per
query — Exchange count, join operators by type, Generate (explode) count,
whether every parquet scan carries PushedFilters, plus a red-flag section
(CartesianProduct anywhere, BroadcastNestedLoopJoin, scans with no pushed
filters). The committed artifact makes the "zero CartesianProduct" claim
auditable in-repo without running Spark.

It also takes a census of `Window` operators with no partition spec. Spark
runs each in a single task (the "No Partition Defined for Window operation"
warning). Every one gets a row naming the operator that sets the window's
input grain, with a verdict: "bounded grain" (the input row count does not
grow with the data) or "scale hazard". Top-k, limits, literal rows and
global aggregates are bounded by construction; the other grains carry an
audited verdict in `GRAIN_VERDICTS`. A grain with no verdict is a red flag.

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

# (query, grain) -> (verdict, why): the audited no-partition windows whose
# grain is not bounded by construction. Grains print without #expr ids.
GRAIN_VERDICTS = {
    ("corpus_mixing_weights", "HashAggregate keys [source]"):
        ("bounded grain", "one row per corpus source"),
    ("events_daily_active", "HashAggregate keys [d]"):
        ("bounded grain", "one row per calendar day: grows with the time span, not the events"),
    ("events_session_percentiles", "HashAggregate keys [dur_us]"):
        ("scale hazard", "one row per distinct duration: up to one per session"),
    ("layout_compaction", "HashAggregate keys [shard]"):
        ("bounded grain", "one row per shard of the layout"),
    ("text_zipf_bands", "HashAggregate keys [_groupingexpression]"):
        ("bounded grain", "one row per frequency decade: `length(cast(freq as string))`, at most 19"),
    ("vocab_coverage_curve", "TopKPerKey 5000, keys [g]"):
        ("bounded grain", "top 5000 words under one literal key (`1 AS g`)"),
}
BOUNDED_OPS = {
    "TakeOrderedAndProject": "top-k",
    "GlobalLimit": "limit",
    "CollectLimit": "limit",
    "LocalTableScan": "literal rows",
}
# operators that keep their input's grain on the way down from a Window
PASS_OPS = {"Sort", "Exchange", "Project", "Filter", "Window", "WindowGroupLimit",
            "AQEShuffleRead", "ShuffleQueryStage", "InputAdapter"}
SORT_ORDER = re.compile(r" (ASC|DESC) NULLS (FIRST|LAST)")


def no_ids(s):
    return re.sub(r"#\d+L?", "", s)


def top_lists(s):
    """The top-level `[...]` groups of an `Arguments:` line."""
    out, depth, start = [], 0, 0
    for i, c in enumerate(s):
        if c == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif c == "]":
            depth -= 1
            if depth == 0:
                out.append(s[start:i])
    return out


def plan_tree(text):
    """op name and children per node id, from the indented tree section."""
    ops, kids, stack = {}, {}, []  # stack: (column, id)
    for line in text.split("\n\n", 1)[0].splitlines():
        m = re.match(r"^([\s:|+\-]*?)([A-Za-z]+)[^()]*\((\d+)\)$", line)
        if not m:
            continue
        col, nid = len(m.group(1)), int(m.group(3))
        ops[nid], kids[nid] = m.group(2), []
        while stack and stack[-1][0] >= col:
            stack.pop()
        if stack:
            kids[stack[-1][1]].append(nid)
        stack.append((col, nid))
    return ops, kids


def details(text, nid):
    m = re.search(r"^\(%d\) [^\n]*\n((?:[^\n]+\n)*)" % nid, text, re.M)
    return m.group(1) if m else ""


def grain(text, ops, kids, nid):
    """The operator below a Window that fixes how many rows it sees."""
    node = kids[nid][0]
    while True:
        op = ops[node]
        if op in PASS_OPS and kids[node]:
            node = kids[node][0]
        elif op.startswith("Broadcast") and op.endswith("Join"):
            # the streamed side: the other child is the broadcast
            node = [k for k in kids[node] if ops[k] != "BroadcastExchange"][0]
        else:
            break
    d = details(text, node)
    if op == "HashAggregate":
        keys = re.search(r"^Keys \[\d+\]: \[(.*)\]$", d, re.M)
        keys = no_ids(keys.group(1)) if keys else ""
        return op, "HashAggregate keys [%s]" % keys, not keys
    if op == "TopKPerKey":
        args = top_lists(re.search(r"^Arguments: (.*)$", d, re.M).group(1))
        k = re.search(r"^Arguments: (\d+)", d, re.M).group(1)
        return op, "TopKPerKey %s, keys [%s]" % (k, no_ids(args[0])), False
    if op in BOUNDED_OPS:
        k = re.search(r"^Arguments: (\d+)", d, re.M)
        return op, "%s%s" % (op, " %s" % k.group(1) if k else ""), True
    return op, op, False


rows = []
flags = []
windows = []
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
    # Window census: Arguments list the window expressions, then the
    # partition spec and the order spec, each omitted when empty
    ops_by_id, kids = plan_tree(text)
    for m in re.finditer(r"^\((\d+)\) Window\n(?:[^\n]+\n)*?Arguments: ([^\n]*)$", text, re.M):
        lists = top_lists(m.group(2))
        if len(lists) == 3 or (len(lists) == 2 and not SORT_ORDER.search(lists[1])):
            continue
        nid = int(m.group(1))
        exprs = ", ".join(
            "%s AS %s" % (f, a) for f, a in
            re.findall(r"(\w+)\([^()]*(?:\([^()]*\))?[^()]*\) windowspecdefinition.*? AS (\w+)",
                       no_ids(lists[0])))
        order = no_ids(lists[1]) if len(lists) == 2 else "-"
        op, g, bounded = grain(text, ops_by_id, kids, nid)
        if bounded:
            verdict, why = "bounded grain", "%s below the window" % BOUNDED_OPS.get(op, "a global aggregate")
        else:
            verdict, why = GRAIN_VERDICTS.get((name, g), ("untriaged", "no audited verdict"))
        if verdict != "bounded grain":
            flags.append("%s: Window (%d) with no partition spec over %s: %s"
                         % (name, nid, g, verdict))
        windows.append((name, nid, exprs or no_ids(lists[0])[:60], order, g, verdict, why))

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
    f.write("\n## Window operators with no partition spec\n\n")
    f.write("Each runs in a single task. The grain is the operator below the "
            "window that fixes its input row count.\n\n")
    f.write("| query | operator | window functions | order | grain | verdict | why |\n")
    f.write("|---|---|---|---|---|---|---|\n")
    for w in windows:
        f.write("| %s | Window (%d) | `%s` | `%s` | `%s` | %s | %s |\n" % w)
    f.write("\n## Per-query census\n\n")
    f.write("| query | Exchange | ReusedExchange | Generate | joins | scans | "
            "scans w/ PushedFilters | scans w/ empty PushedFilters |\n")
    f.write("|---|---|---|---|---|---|---|---|\n")
    for r in rows:
        f.write("| %s | %d | %d | %d | %s | %d | %d | %d |\n" % r)

print("wrote %s (%d queries, %d red flags, %d unpartitioned windows)"
      % (out_path, len(rows), len(flags), len(windows)))
