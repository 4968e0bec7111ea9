#!/usr/bin/env python3
"""Tests of the benchmark itself: listener accounting, manifest guard,
fixture determinism and the metric arithmetic.

    python3 perfbench/test_perfbench.py

The JVM tests build the engine and harness first (see build.py).
"""
import hashlib
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_fixtures  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

# Keep test scratch inside the build dir, like the benchmark's own runs.
os.makedirs(build.build_dir(), exist_ok=True)
tempfile.tempdir = build.build_dir()


def java(main, args, cwd):
    cmd = ["java"]
    for p in run.JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx1g", f"-Djava.io.tmpdir={cwd}",
            "-cp", build.build() + os.pathsep + build.spark_classpath(), main] + args
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=300)


class HarnessTest(unittest.TestCase):
    def test_listener_self_check(self):
        """Known-shape jobs read back exact job/stage/task counts, shuffle
        bytes, and one stream batch (see harness/SelfCheck.scala)."""
        with tempfile.TemporaryDirectory() as d:
            res = java("graft.perfbench.SelfCheck", [], d)
        self.assertEqual(res.returncode, 0, res.stdout[-3000:])
        self.assertIn("[selfcheck] all checks passed", res.stdout)

    def test_manifest_guard_rejects_unknown_query(self):
        with tempfile.TemporaryDirectory() as d:
            res = java("graft.perfbench.Harness",
                       ["--fixtures", d, "--queries", "q02_filter,q999_not_a_query",
                        "--seed", "1", "--seconds", "1", "--trace", "0", "--cpus", "1",
                        "--out", os.path.join(d, "r.json"), "--dump", d], d)
        self.assertEqual(res.returncode, 3, res.stdout[-3000:])
        self.assertIn("q999_not_a_query", res.stdout)

    def test_manifest_names_known_workloads(self):
        manifest = run.load_manifest()["workloads"]
        self.assertGreaterEqual(len(manifest), 2)
        for name, wl in manifest.items():
            self.assertTrue(wl["why"] and wl["queries"], name)
            self.assertEqual(len(set(wl["queries"])), len(wl["queries"]), name)


class FixtureTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        digests = []
        with tempfile.TemporaryDirectory() as d:
            for i in range(2):
                out = os.path.join(d, str(i))
                gen_fixtures.generate(out, 0.001)
                h = hashlib.md5()
                for t in oracle.TABLES:
                    with open(os.path.join(out, f"{t}.parquet"), "rb") as f:
                        h.update(f.read())
                digests.append(h.hexdigest())
        self.assertEqual(digests[0], digests[1])


class MetricTest(unittest.TestCase):
    def test_self_time_subtracts_children_union(self):
        spans = [
            {"id": 1, "parent": 0, "name": "query", "start": 0.0, "end": 1000.0},
            {"id": 2, "parent": 1, "name": "exec.action", "start": 100.0, "end": 900.0},
            {"id": 3, "parent": 2, "name": "spark.job", "start": 200.0, "end": 500.0},
            {"id": 4, "parent": 2, "name": "spark.job", "start": 400.0, "end": 600.0},
        ]
        st = run.self_times(spans)
        self.assertAlmostEqual(st["query"], 0.2)
        self.assertAlmostEqual(st["exec.action"], 0.4)
        self.assertAlmostEqual(st["spark.job"], 0.5)

    def test_tail_percentile_leaves_ten_samples_beyond(self):
        xs = list(range(1, 21))
        self.assertEqual(run.tail_percentile_rank(len(xs), 50), 10)
        self.assertAlmostEqual(run.percentile(xs, 50), 10.5)
        self.assertEqual(run.percentile(xs, 100), 20)

    def test_canon_ignores_column_order_and_null_spelling(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1.0, None], "y": ["a", "b"]})
        b = pd.DataFrame({"y": ["b", "a"], "x": [float("nan"), 1.0]})
        self.assertEqual(oracle.canon(a), oracle.canon(b))


if __name__ == "__main__":
    unittest.main()
