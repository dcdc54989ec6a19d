#!/usr/bin/env python3
"""Per-query diff of two bench_detail.json files — the NOTES_r14 §4 /
NOTES_r15 §6 A/B discipline as a tool instead of ad-hoc one-liners.

Usage: python3 tools/bench_diff.py <before.json> <after.json> [minDelta]

Prints regressions (>1.5x AND >0.5 s by default — the verdict's
round-over-round criterion), wins beyond minDelta, and queries present
on only one side. Exit 1 iff regressions exist, so it can gate.

Each file's "action" names what Bench timed: "noop" (every column
written to the noop sink) or, for a file without the key, "count" (the
pruned df.count() of earlier benches). Two files with different actions
time different work: exit 2, naming the break, and compare nothing.
"""
import json
import re
import sys


def load_queries(path):
    """(queries, action) of bench_detail.json ({"queries": ...}), a round's
    BENCH_r{N}.json ({"parsed": {"queries": ...}, "tail": ...}), or a raw
    Bench stdout log. BENCH_r files whose "parsed" is null carry only a
    FRONT-TRUNCATED tail — recover what query timings survive and say so
    (a partial before-side only mutes comparisons for the lost queries, it
    cannot mint fake regressions)."""
    d = json.load(open(path))
    if "queries" in d:
        return d["queries"], d.get("action", "count")
    if d.get("parsed") and d["parsed"].get("queries"):
        return d["parsed"]["queries"], d["parsed"].get("action", "count")
    tail = d.get("tail") or ""
    action = re.search(r'"action":"([a-z]+)"', tail)
    qs = {q: float(v) for q, v in
          re.findall(r'"([a-z0-9_]+)":(-?[0-9.]+)', tail)
          if q not in ("value", "sf", "n", "rc", "cpus")}
    if qs:
        print(f"note: {path} has no parsed bench line; recovered "
              f"{len(qs)} query timings from its truncated tail")
        return qs, action.group(1) if action else "count"
    raise SystemExit(f"{path}: no queries found (not a bench_detail/"
                     "driver-bench file?)")


before, before_action = load_queries(sys.argv[1])
after, after_action = load_queries(sys.argv[2])
if before_action != after_action:
    print(f"method break: {sys.argv[1]} times {before_action}, "
          f"{sys.argv[2]} times {after_action}; their timings do not compare")
    sys.exit(2)
min_delta = float(sys.argv[3]) if len(sys.argv) > 3 else 0.5

regs, wins = [], []
for q, v in after.items():
    o = before.get(q)
    if o is None or o < 0 or v < 0:
        continue
    if v > 1.5 * o and v - o > min_delta:
        regs.append((q, o, v))
    elif o - v > min_delta:
        wins.append((q, o, v))

print(f"total: {sum(x for x in before.values() if x > 0):.1f} -> "
      f"{sum(x for x in after.values() if x > 0):.1f} s "
      f"({len(before)} -> {len(after)} queries)")
for tag, rows in (("REGRESSION", sorted(regs, key=lambda t: t[1] - t[2])),
                  ("win", sorted(wins, key=lambda t: t[2] - t[1]))):
    for q, o, v in rows:
        print(f"{tag:10s} {o:7.2f} -> {v:7.2f}  ({v - o:+5.2f})  {q}")
only_before = sorted(set(before) - set(after))
only_after = sorted(set(after) - set(before))
if only_before:
    print("only in before:", ", ".join(only_before))
if only_after:
    print("only in after:", ", ".join(only_after))
failed = [q for q, v in after.items() if v < 0]
if failed:
    print("FAILED in after:", ", ".join(sorted(failed)))
sys.exit(1 if regs or failed else 0)
