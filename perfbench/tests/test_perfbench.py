#!/usr/bin/env python3
"""Self-tests of the benchmark: the result fingerprint, the tail percentile,
the rollover-set generator, and the refusal to run without the program.

    python3 -m unittest discover -s perfbench/tests

The generator tests build the harness first when it is not built yet.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class FingerprintTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = run.fingerprint(["b", "A"], [(1, "x"), (2, "y")])
        b = run.fingerprint(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)
        self.assertEqual(a["rows"], 2)

    def test_floats_compare_at_six_places(self):
        self.assertEqual(run.fingerprint(["v"], [(0.1 + 0.2,)]),
                         run.fingerprint(["v"], [(0.3,)]))
        self.assertNotEqual(run.fingerprint(["v"], [(0.3001,)]),
                            run.fingerprint(["v"], [(0.3,)]))

    def test_nan_and_lists(self):
        nan = float("nan")
        self.assertEqual(run.fingerprint(["v"], [(nan,)]), run.fingerprint(["v"], [(nan,)]))
        self.assertEqual(run.fingerprint(["v"], [([1.0000001, 2.0],)]),
                         run.fingerprint(["v"], [((1.0, 2.0),)]))

    def test_a_changed_value_or_column_name_changes_the_digest(self):
        base = run.fingerprint(["k", "n"], [("a", 1), ("b", 2)])
        self.assertNotEqual(base, run.fingerprint(["k", "n"], [("a", 1), ("b", 3)]))
        self.assertNotEqual(base, run.fingerprint(["k", "m"], [("a", 1), ("b", 2)]))
        self.assertNotEqual(base, run.fingerprint(["k", "n"], [("a", 1)]))


class TailTest(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(run.tail([1.0] * 10))

    def test_leaves_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(run.tail(xs), (90, 90.0))
        pct, value = run.tail([float(i) for i in range(1, 21)])
        self.assertEqual((pct, value), (50, 10.0))
        self.assertEqual(sum(x > value for x in range(1, 21)), 10)


class GeneratorTest(unittest.TestCase):
    """The generator must give the same bytes for the same seed, exactly the
    files asked for, and values past every width limit."""

    @classmethod
    def setUpClass(cls):
        cls.cp = run.build()
        cls.work = os.path.join(run.BUILD, "selftest")
        shutil.rmtree(cls.work, ignore_errors=True)
        os.makedirs(os.path.join(cls.work, "tmp"))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def generate(self, name, seed, events=6000, files=7):
        out = os.path.join(self.work, name)
        p = subprocess.run(run.java_cmd(self.cp, self.work, [
            "gen-rollover", "--events", str(events), "--files", str(files),
            "--seed", str(seed), "--out", out]), capture_output=True, text=True, check=True)
        line = [l for l in p.stdout.splitlines() if l.startswith("events=")][-1]
        planted = {k: int(v) for k, v in (kv.split("=") for kv in line.split())}
        digests = {}
        for f in sorted(os.listdir(out)):
            with open(os.path.join(out, f), "rb") as fh:
                digests[f] = hashlib.sha256(fh.read()).hexdigest()
        return planted, digests

    def test_same_seed_same_bytes(self):
        p1, d1 = self.generate("a", 7)
        p2, d2 = self.generate("b", 7)
        _, d3 = self.generate("c", 8)
        self.assertEqual(d1, d2)
        self.assertEqual(p1, p2)
        self.assertNotEqual(d1, d3)

    def test_exact_file_count_and_every_truncation_kind(self):
        planted, digests = self.generate("count", 3, events=6001, files=13)
        self.assertEqual(len(digests), 13)
        self.assertEqual(planted["files"], 13)
        self.assertEqual(planted["events"], 6001)
        for kind in ("string", "xml", "binary"):
            self.assertGreater(planted[kind], 0, kind)


class AbsentProgramTest(unittest.TestCase):
    def test_refuses_without_the_program(self):
        lone = os.path.join(run.BUILD, "absent")
        shutil.rmtree(lone, ignore_errors=True)
        os.makedirs(lone)
        try:
            shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), lone)
            shutil.copytree(run.BENCH, os.path.join(lone, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=lone, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(lone, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
