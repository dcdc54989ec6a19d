#!/usr/bin/env python3
"""Where a JFR recording of a Spark local-mode run spent its time, what it
forked and what it allocated.

Reads a recording with the JDK's `jfr print --json` and prints, for each
thread group (executor: Spark's task threads; driver: every other Java
thread of the JVM):

  - the top self frames (the sampled method) and the top inclusive frames
    (any method on the sampled stack) of `jdk.ExecutionSample`;
  - the commands of `jdk.ProcessStart`, grouped with paths replaced by
    `<path>`;
  - allocation by site from `jdk.ObjectAllocationSample`, weighted by the
    sample weight: the allocated class, the allocating method and its first
    caller outside the JDK.

Events are decoded one at a time from the `jfr` output, so a long recording
does not have to fit in memory as one JSON document.

Record with, for example,
  JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=filename=rec.jfr,settings=profile

Usage: python3 tools/jfr_summary.py <rec.jfr> [--top N] [--depth D]
"""
import argparse
import collections
import json
import re
import subprocess

JDK_PACKAGES = ("java.", "javax.", "jdk.", "sun.", "com.sun.")


def events(path, names, depth):
    """Yield the events of the given types, each a decoded JSON object."""
    cmd = ["jfr", "print", "--json", "--events", names, "--stack-depth", str(depth), path]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    decoder = json.JSONDecoder()
    buf, pos = "", None
    try:
        for chunk in iter(lambda: proc.stdout.read(1 << 20), ""):
            buf += chunk
            if pos is None:
                start = buf.find('"events": [')
                if start < 0:
                    continue
                pos = start + len('"events": [')
            while True:
                while pos < len(buf) and buf[pos] in " \t\r\n,":
                    pos += 1
                if pos >= len(buf) or buf[pos] == "]":
                    break
                try:
                    event, pos = decoder.raw_decode(buf, pos)
                except json.JSONDecodeError:
                    break  # the event continues in the next chunk
                yield event
            buf, pos = buf[pos:], 0
    finally:
        proc.stdout.close()
        if proc.wait() != 0:
            raise SystemExit(f"jfr print failed on {path}")


def group_of(thread):
    name = (thread or {}).get("javaName") or ""
    return "executor" if name.startswith("Executor task launch worker") else "driver"


def frame_name(frame):
    method = frame["method"]
    return method["type"]["name"].replace("/", ".") + "." + method["name"]


def frames(event):
    trace = event["values"].get("stackTrace") or {}
    return [frame_name(f) for f in trace.get("frames") or []]


def first_outside_jdk(names):
    return next((n for n in names if not n.startswith(JDK_PACKAGES)), None)


def print_top(title, counter, total, top):
    print(f"  {title}")
    for key, n in counter.most_common(top):
        share = n / total if total else 0.0
        print(f"    {share:6.1%}  {n:>14,}  {key}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=15, help="rows per table (default 15)")
    ap.add_argument("--depth", type=int, default=64,
                    help="stack frames read per sample (default 64)")
    args = ap.parse_args()

    self_frames = collections.defaultdict(collections.Counter)
    inclusive = collections.defaultdict(collections.Counter)
    samples = collections.Counter()
    for e in events(args.recording, "jdk.ExecutionSample", args.depth):
        g = group_of(e["values"].get("sampledThread"))
        names = frames(e)
        samples[g] += 1
        if names:
            self_frames[g][names[0]] += 1
        inclusive[g].update(set(names))

    forks = collections.defaultdict(collections.Counter)
    for e in events(args.recording, "jdk.ProcessStart", 1):
        command = re.sub(r"(?<!\S)(?:file:)?/\S*", "<path>", e["values"].get("command") or "")
        forks[group_of(e["values"].get("eventThread"))][command] += 1

    allocated = collections.defaultdict(collections.Counter)
    for e in events(args.recording, "jdk.ObjectAllocationSample", 16):
        v = e["values"]
        names = frames(e)
        site = names[0] if names else "?"
        caller = first_outside_jdk(names)
        if caller and caller != site:
            site += " <- " + caller
        cls = ((v.get("objectClass") or {}).get("name") or "?").replace("/", ".")
        allocated[group_of(v.get("eventThread"))][f"{cls}  {site}"] += int(v.get("weight") or 0)

    for g in ("executor", "driver"):
        print(f"== {g} ==")
        print(f"  execution samples: {samples[g]:,}")
        print_top("top self frames", self_frames[g], samples[g], args.top)
        print_top("top inclusive frames", inclusive[g], samples[g], args.top)
        n_forks = sum(forks[g].values())
        print(f"  processes started: {n_forks:,}")
        if n_forks:
            print_top("commands", forks[g], n_forks, args.top)
        total = sum(allocated[g].values())
        print(f"  sampled allocation: {total / 2**20:,.1f} MB")
        print_top("allocation by site (bytes)", allocated[g], total, args.top)


if __name__ == "__main__":
    main()
