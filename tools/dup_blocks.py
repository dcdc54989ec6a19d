#!/usr/bin/env python3
"""Census of repeated code blocks (simplicity tooling).

Reads source files, strips every line of its leading and trailing
whitespace and drops the blank ones. A block is N consecutive stripped
lines of one file; it is repeated when the same N lines occur again, in
the same file or in another. For each file the census prints two counts:

  in_repeats  lines that sit in any copy of a repeated block
  excess      lines that sit only in a second or later copy (in file
              order, then line order) — the lines one shared definition
              per block would remove

and then the totals. A block longer than N counts once per line, however
many overlapping N-line windows cover it.

With -v it also lists every later copy as `file:line <- file:line`, the
line where the block starts and the line of its first copy.

Usage: python3 tools/dup_blocks.py [-n N] [-v] <file-or-dir>...
  N defaults to 6; a directory stands for every *.scala file under it.
e.g.   python3 tools/dup_blocks.py src/main/scala/graft/queries
"""
import argparse
import os
import sys


def sources(paths):
    out = []
    for p in paths:
        if os.path.isdir(p):
            for root, _, names in os.walk(p):
                out += [os.path.join(root, n) for n in names
                        if n.endswith(".scala")]
        else:
            out.append(p)
    return sorted(out)


def stripped(path):
    """(line number, stripped text) for each non-blank line."""
    with open(path, encoding="utf-8") as f:
        return [(i + 1, s) for i, s in enumerate(l.strip() for l in f) if s]


def census(files, n):
    """Per file: (set of lines in any copy, set of lines in later copies,
    list of (start, end, first file, first line) for each later copy)."""
    first = {}
    starts = {}
    for path, lines in files:
        for k in range(len(lines) - n + 1):
            key = tuple(s for _, s in lines[k:k + n])
            if key in first:
                starts.setdefault(key, []).append((path, k))
            else:
                first[key] = (path, k)
    rows = {path: (set(), set(), []) for path, _ in files}
    by_path = dict(files)
    for key, later in starts.items():
        fp, fk = first[key]
        rows[fp][0].update(ln for ln, _ in by_path[fp][fk:fk + n])
        for path, k in later:
            block = [ln for ln, _ in by_path[path][k:k + n]]
            rows[path][0].update(block)
            rows[path][1].update(block)
            rows[path][2].append((block[0], block[-1], fp, by_path[fp][fk][0]))
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("-n", type=int, default=6,
                    help="block size in stripped lines (default 6)")
    ap.add_argument("-v", action="store_true", help="list every later copy")
    ap.add_argument("paths", nargs="+")
    args = ap.parse_args()
    if args.n < 1:
        sys.exit("dup_blocks: -n must be at least 1")
    files = [(p, stripped(p)) for p in sources(args.paths)]
    rows = census(files, args.n)
    print(f"{'in_repeats':>10} {'excess':>7} {'lines':>7}  file  (N={args.n})")
    tot_in = tot_ex = tot_lines = 0
    for path, lines in files:
        inr, ex, later = rows[path]
        tot_in += len(inr); tot_ex += len(ex); tot_lines += len(lines)
        print(f"{len(inr):>10} {len(ex):>7} {len(lines):>7}  {path}")
        if args.v:
            # the overlapping windows of one long copy print once
            end = 0
            for start, last, fp, fl in sorted(later):
                if start > end:
                    print(f"{'':>27}{path}:{start} <- {fp}:{fl}")
                end = max(end, last)
    print(f"{tot_in:>10} {tot_ex:>7} {tot_lines:>7}  total")


if __name__ == "__main__":
    main()
