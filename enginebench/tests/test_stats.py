"""Self-tests of the benchmark's own arithmetic. From the repository root:

    python3 -m unittest discover -s enginebench/tests -v

The JVM test builds the benchmark and runs graft.enginebench.SelfTest
(digest order independence, and a tiny run of every workload through its
correctness gate); it takes a few minutes.
"""
import os
import random
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_ten_samples_lie_beyond_the_reported_value(self):
        for n in (20, 40, 57, 100, 250, 1000):
            xs = [random.random() for _ in range(n)]
            v = stats.percentile(xs, stats.tail_percentile(n))
            self.assertGreaterEqual(sum(x > v for x in xs), 10)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([5.0], 99), 5.0)


class SelfTime(unittest.TestCase):
    def test_disjoint_children(self):
        self.assertEqual(stats.self_time(0, 10, [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time(0, 10, [(1, 4), (2, 6), (5, 7)]), 4)
        self.assertEqual(stats.self_time(0, 10, [(2, 8), (3, 4)]), 4)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time(10, 20, [(5, 12), (18, 30)]), 6)
        self.assertEqual(stats.self_time(10, 20, [(0, 5)]), 10)

    def test_span_self_time_from_a_record(self):
        record = {
            "spans": [
                {"id": 0, "parent": -1, "start": 0.0, "end": 100.0},
                {"id": 1, "parent": 0, "start": 10.0, "end": 50.0},
            ],
            "jobs": [
                {"id": 0, "span": 0, "start": 5, "end": 20},
                {"id": 1, "span": 1, "start": 15, "end": 40},
                # untagged: goes to the innermost open span (1)
                {"id": 2, "span": -1, "start": 45, "end": 60},
            ],
            "stages": [],
        }
        jobs, _ = metrics.attribute(record)
        self.assertEqual([j["id"] for j in jobs[1]], [1, 2])
        span0 = record["spans"][0]
        # jobs cover [5, 40] and [45, 60]: 50 of the span's 100 ms
        self.assertAlmostEqual(
            metrics.span_self_s(record, span0, jobs), 0.05)


class RunAgreement(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        xs = [10, 10, 11, 9, 10, 12, 8, 10, 10, 10]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.spread([5.0] * 10), 0.0)

    def test_agreement_respects_direction_and_bound(self):
        first = [100.0] * 10
        self.assertTrue(stats.agree(first, [110.0] * 10, 0.1, "lower"))
        self.assertFalse(stats.agree(first, [111.0] * 10, 0.1, "lower"))
        self.assertTrue(stats.agree(first, [80.0] * 10, 0.1, "lower"))
        self.assertTrue(stats.agree(first, [90.0] * 10, 0.1, "higher"))
        self.assertFalse(stats.agree(first, [89.0] * 10, 0.1, "higher"))
        self.assertAlmostEqual(
            stats.worse_by(first, [105.0] * 10, "lower"), 0.05)


class Digest(unittest.TestCase):
    def test_jvm_selftest(self):
        """Digest order independence and every workload's gate, in the JVM."""
        repo = os.path.dirname(os.path.dirname(HERE))
        cp, _ = build.build(repo)
        root = os.path.join(repo, build.OUT, "selftest-tmp")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(os.path.join(root, "jtmp"))
        try:
            p = subprocess.run(
                build.jvm_command(cp, "graft.enginebench.SelfTest",
                                  os.path.join(root, "jtmp"))
                + ["--root", root, "--workloads", "backfill,trickle,serve",
                   "--seconds", "0.5"],
                stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                timeout=900)
        finally:
            shutil.rmtree(root, ignore_errors=True)
        lines = [x for x in p.stdout.splitlines()
                 if x.startswith(("ok", "FAIL"))]
        self.assertEqual(p.returncode, 0,
                         "\n".join(lines) or p.stdout[-3000:])
        self.assertTrue(any("ignores partitioning and order" in x
                            for x in lines))


if __name__ == "__main__":
    unittest.main()
