#!/usr/bin/env python3
"""The repository benchmark: one command that builds the program from source,
runs one workload of it, checks the outputs, and prints the metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: load_xelb_limited, query_mix (see perfbench/README.md).
Human-readable metric lines go to stdout first; the last stdout line is one
JSON object {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The exit
code is 0 when every output check held, 1 when one failed, 2 on a usage or
build error.

Everything is built and written under .bench_build/ in the checkout; a run's
inputs and outputs are deleted when it ends.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
HARNESS = os.path.join(BENCH, "harness")
BUILD = os.path.join(ROOT, ".bench_build")
EXPECTED = os.path.join(BENCH, "expected", "query_mix.json")

WORKLOADS = ("load_xelb_limited", "query_mix")
# a fixed heap, and a fixed young generation instead of one the collector
# resizes as it goes: collections then come at like points of each operation,
# and the peak heap after a collection is sampled several times per query
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn256m"]
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = {"setup_s": "s", "pass_s": "s", "peak_heap_mb": "MB"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def program_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")))


def source_stamp():
    """Hash of every file the build reads, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "project", "*.properties"))
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the run classpath."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as g:
                        return g.read().strip()
        log("building the program and the harness with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log_file = os.path.join(BUILD, "build.log")
        with open(log_file, "w") as out:
            code = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"], HARNESS, out, 850, env)
        with open(log_file) as f:
            text = f.read()
        lines = [l for l in text.splitlines() if l and not l.startswith("[")]
        if code != 0 or not lines:
            sys.stderr.write(text[-4000:])
            raise RuntimeError("sbt build failed" if code is not None else "sbt build timed out")
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def java_cmd(cp, work, args):
    cmd = ["java", *HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"] + args


def run_process(cmd, cwd, out, timeout, env=None):
    """Run `cmd` in a process group of its own with output to `out`; return
    its exit code, or None when it timed out. The whole group is killed and
    waited for before this returns."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def run_harness(cp, work, args, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "harness.log"), "w") as out:
        return run_process(java_cmd(cp, work, args), work, out, timeout)


# --- query result fingerprints ------------------------------------------

def _norm(v):
    if isinstance(v, float):
        return "NaN" if v != v else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def fingerprint(cols, rows):
    """Order-insensitive digest of a result, in tools/check_oracle.py's
    canonical form: columns sorted by lower-cased name, floats rounded to
    six places, rows sorted by their repr."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    h = hashlib.sha256(repr([cols[i] for i in order]).encode())
    for r in canon:
        h.update(repr(r).encode())
    return {"rows": len(canon), "sha256": h.hexdigest()}


def result_fingerprint(path):
    import duckdb
    rel = duckdb.connect().execute(f"SELECT * FROM '{path}/*.parquet'")
    return fingerprint([d[0] for d in rel.description], rel.fetchall())


def check_mix(work):
    """Failures of the query-mix check pass against the committed rows. A
    query with no result already failed in the harness and is not counted
    again."""
    with open(EXPECTED) as f:
        expected = json.load(f)["queries"]
    failures = []
    for name, exp in sorted(expected.items()):
        path = os.path.join(work, "results", name)
        if not glob.glob(f"{path}/*.parquet"):
            continue
        got = result_fingerprint(path)
        if got != exp:
            failures.append(f"{name}: {got['rows']} rows {got['sha256'][:12]}, "
                            f"expected {exp['rows']} rows {exp['sha256'][:12]}")
    return failures


# --- metrics --------------------------------------------------------------

def tail(samples):
    """The highest percentile with at least ten samples beyond it, or None."""
    n = len(samples)
    if n < 11:
        return None
    pct = int(100 * (n - 10) / n)
    return pct, sorted(samples)[max(0, -(-pct * n // 100) - 1)]


def end_to_end(res):
    return {
        # the session starts and the input generation are repeated in a
        # run, and their medians count; the warm-up happens once
        "setup_s": (statistics.median(res["session_start_s"])
                    + statistics.median(res["setup_s"]) + res["warmup_s"]),
        "pass_s": statistics.median(res["passes"]),
        "peak_heap_mb": res["peak_heap_mb"],
    }


def report_lines(workload, res, e2e, failed, attempted):
    """The end-to-end figures under the names a loader user reads, one per line."""
    info = res["info"]
    ops = [t for _, _, t in res["ops"]]
    lines = [("setup_s", e2e["setup_s"], "s")]
    if workload == "load_xelb_limited":
        lines += [("events_per_s", int(info["events"]) / e2e["pass_s"], "1/s"),
                  ("load_p50_s", e2e["pass_s"], "s"),
                  ("stored_bytes_per_input_byte",
                   float(info["stored_bytes_per_input_byte"]), "ratio")]
    else:
        lines += [("mix_s", e2e["pass_s"], "s"), ("query_p50_s", statistics.median(ops), "s")]
        t = tail(ops)
        if t and t[0] >= 50:
            lines.append((f"query_tail_s (p{t[0]})", t[1], "s"))
        else:
            lines.append(("query_tail_s", "n/a: no percentile above the median "
                          "has ten samples beyond it", ""))
    lines += [("failed_share", failed / max(1, attempted), "ratio"),
              ("peak_heap_mb", e2e["peak_heap_mb"], "MB"),
              ("samples", len(ops), "operations")]
    for name, value, unit in lines:
        v = f"{value:.6g}" if isinstance(value, float) else value
        print(f"{workload} {name} = {v} {unit}".rstrip())


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not program_present():
        log(f"no program source under {ROOT}: build.sbt and src/main/scala/graft are required")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    try:
        cp = build()
    except (RuntimeError, OSError) as e:
        log(f"build failed: {e}")
        return 2

    work = os.path.join(BUILD, f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(work)
    data_token = os.path.join(work, "mixdata").replace(os.sep, "_")
    data_token = "".join(c if c.isalnum() else "_" for c in data_token)
    try:
        result_file = os.path.join(work, "result.json")
        code = run_harness(cp, work, [
            "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--result", result_file],
            RUN_TIMEOUT_S)
        if code != 0 or not os.path.isfile(result_file):
            with open(os.path.join(work, "harness.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            log(f"harness {'timed out' if code is None else f'exited with {code}'}")
            return 1
        with open(result_file) as f:
            res = json.load(f)
        failures = list(res["failures"])
        failed, attempted = res["failed"], res["attempted"]
        if a.workload == "query_mix":
            mix_failures = check_mix(work)
            failures += mix_failures
            failed += len(mix_failures)
        for msg in failures:
            log(f"CHECK FAILED {msg}")
        e2e = end_to_end(res)
        report_lines(a.workload, res, e2e, failed, attempted)
        if a.trace:
            # a layer the workload does not use did no work: it reads 0
            metrics = {n: {"value": res["layers"].get(n, 0.0), "unit": u}
                       for n, u in per_layer.items()}
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.json"), "w") as f:
                json.dump({"spans": res["spans"], "layers": res["layers"]}, f)
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
        correct = failed == 0 and not failures
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        # the program keeps query scratch under /dev/shm (else /tmp), named
        # after the data directory; remove what this run's queries left
        for base in ("/dev/shm", "/tmp"):
            for p in glob.glob(os.path.join(base, f"*_{data_token}")):
                shutil.rmtree(p, ignore_errors=True)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    # a caller's SIGTERM still stops the harness and removes the run directory
    signal.signal(signal.SIGTERM, _terminate)
    sys.exit(main())
