#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 -m unittest perfbench/test_bench.py

They build the harness if needed and take about two minutes.
"""
import hashlib
import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

# build outputs, which the first run creates and later runs reuse
BUILD_DIRS = {os.path.join("perfbench", "target"), os.path.join("perfbench", "project", "target"),
              os.path.join("perfbench", "project", "project"), ".git"}


def tree():
    """Path -> sha256 of every file in the checkout except build outputs."""
    out = {}
    for d, dirs, files in os.walk(run.ROOT):
        rel = os.path.relpath(d, run.ROOT)
        dirs[:] = [x for x in dirs if os.path.normpath(os.path.join(rel, x)) not in BUILD_DIRS]
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, run.ROOT)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def bench(workload, seconds):
    p = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", str(seconds), "--trace", "0"],
                       cwd=run.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    return p.returncode, p.stdout


class BenchmarkTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        run.build()

    def test_last_line_parses_unmodified(self):
        code, out = bench("reload_cycles", 1)
        self.assertEqual(code, 0)
        r = json.loads(out.splitlines()[-1])
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            declared = {m["name"] for m in json.load(f)["end_to_end"]}
        self.assertEqual(set(r["metrics"]), declared)
        self.assertTrue(all(m["value"] > 0 for m in r["metrics"].values()))

    def test_run_leaves_tree_unchanged(self):
        before = tree()
        code, _ = bench("query_mix", 1)
        self.assertEqual(code, 0)
        after = tree()
        self.assertEqual(sorted(p for p in before.keys() | after.keys()
                                if before.get(p) != after.get(p)), [])

    def test_generator_is_seeded_and_skewed(self):
        def fingerprint(seed):
            out = subprocess.run(run.java_cmd(["fingerprint", str(seed)]),
                                 stdout=subprocess.PIPE, text=True, check=True).stdout
            return json.loads(out.splitlines()[-1])
        a, again, b = fingerprint(1), fingerprint(1), fingerprint(2)
        self.assertEqual(a, again)
        for k in ("topic", "cycle", "history"):
            self.assertNotEqual(a[k], b[k], k)
        for f in (a, b):
            per = f["per_partition_n"]
            short = min(f["lengths"], key=lambda p: f["lengths"][p])
            # the short partition holds less than its share of tail-N ...
            self.assertLess(f["lengths"][short], per)
            # ... so tailN takes all of it, fewer rows than from the others
            self.assertEqual(f["tail_rows"][short], f["lengths"][short])
            self.assertEqual(max(f["tail_rows"].values()), per)


if __name__ == "__main__":
    unittest.main()
