"""Tests of the benchmark's own statistics and fingerprint code.

    python3 perfbench/test_harness.py

The Python order statistics are tested here; the Scala fingerprint and
task-skew code is tested by the harness's self-test (`graftbench.Main
--selftest`), which this file builds and runs.
"""
import os
import statistics
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class Stats(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        self.assertEqual(stats.median([7]), 7)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_percentile_nearest_rank(self):
        xs = list(range(1, 117))  # 116 samples, as many as the full query sweep
        p90 = stats.percentile(xs, 90)
        self.assertEqual(p90, 105)
        self.assertEqual(sum(1 for x in xs if x > p90), 11)
        self.assertEqual(stats.percentile([5, 1], 50), 1)
        self.assertEqual(stats.percentile([5, 1], 100), 5)

    def test_quartile_spread_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.6, 9.7]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / stats.median(xs))


class Metrics(unittest.TestCase):
    CALLS = [
        {"unit": 1, "name": "q02_pip_join", "leg": "sweep.first", "wall_s": 2.0, "cpu_s": 3.0},
        {"unit": 1, "name": "q02_pip_join", "leg": "sweep.warm", "wall_s": 1.0, "cpu_s": 2.0},
        {"unit": 1, "name": "knn", "leg": "knn", "wall_s": 4.0, "cpu_s": 5.0},
        {"unit": 2, "name": "q02_pip_join", "leg": "sweep.first", "wall_s": 3.0, "cpu_s": 1.0},
        {"unit": 2, "name": "q02_pip_join", "leg": "sweep.warm", "wall_s": 1.0, "cpu_s": 1.0},
        {"unit": 2, "name": "knn", "leg": "knn", "wall_s": 6.0, "cpu_s": 1.0},
    ]

    def test_units_and_end_to_end(self):
        self.assertEqual(run.units(self.CALLS), {1: (7.0, 10.0), 2: (10.0, 3.0)})
        e2e = run.end_to_end({"calls": self.CALLS, "detail": {"setup_s": 1.5},
                              "peak_rss_mb": 100.0})
        self.assertEqual(e2e["pass_s"], 8.5)
        self.assertEqual(e2e["pass_cpu_s"], 6.5)
        self.assertEqual(e2e["setup_s"], 1.5)

    def test_walls_filter(self):
        self.assertEqual(run.walls(self.CALLS, leg="knn"), [4.0, 6.0])
        self.assertEqual(run.walls(self.CALLS, leg="sweep.warm", name="q02_pip_join"), [1.0, 1.0])


class Fingerprint(unittest.TestCase):
    def test_jvm_selftest(self):
        build.build(run.jvm_cmd)
        tmp = os.path.join(run.WORK_ROOT, "selftest-tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = run.jvm_cmd(["--selftest"], build.classpath(), tmp)
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=300)
        self.assertEqual(r.returncode, 0, r.stdout[-3000:])
        self.assertIn("selftest OK", r.stdout)


if __name__ == "__main__":
    unittest.main()
