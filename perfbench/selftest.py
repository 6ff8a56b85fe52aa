"""Tests of the benchmark's own arithmetic; no Spark, runs in seconds.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

import gen  # noqa: E402
from stats import (  # noqa: E402
    attribute_jobs,
    parse_sql_metric,
    self_time,
    stored_bytes_per_user_byte,
    tail_percentile,
)


class TailPercentile(unittest.TestCase):
    def test_p90_when_ten_samples_lie_beyond(self):
        xs = list(range(1, 101))  # p90 by nearest rank is 90; 10 lie above
        self.assertEqual(tail_percentile(xs), (90.0, 0.9, 100))

    def test_falls_back_to_the_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 41))  # p90 = 36 has only 4 above; 30 has 10
        value, q, n = tail_percentile(xs)
        self.assertEqual((value, n), (30.0, 40))
        self.assertAlmostEqual(q, 0.75)
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_small_runs_report_the_maximum(self):
        # 6 samples: no percentile at or above the median has 10 beyond
        self.assertEqual(tail_percentile([3, 1, 2, 6, 5, 4]), (6.0, 1.0, 6))
        self.assertEqual(tail_percentile([7.5]), (7.5, 1.0, 1))

    def test_unsorted_input_and_sample_count(self):
        xs = list(np.random.default_rng(0).permutation(250) + 1)
        self.assertEqual(tail_percentile(xs), (225.0, 0.9, 250))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            tail_percentile([])


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(self_time((2.0, 5.0), []), 3.0)

    def test_overlapping_children_count_once(self):
        # covered: [1, 5] and [8, 10] (the last child is clipped)
        self.assertEqual(self_time((0.0, 10.0), [(1, 3), (2, 5), (8, 12)]), 4.0)

    def test_child_covering_the_whole_span(self):
        self.assertEqual(self_time((1.0, 2.0), [(0.0, 3.0)]), 0.0)

    def test_disjoint_children(self):
        self.assertAlmostEqual(self_time((0.0, 1.0), [(0.1, 0.2), (0.5, 0.6)]), 0.8)


class JobAttribution(unittest.TestCase):
    # (span_id, group, start, end, depth): a pass, an op, its execute
    # phase, and a wrapped call inside the phase
    SPANS = [
        (0, "g0", 0.0, 10.0, 0),
        (1, "g1", 0.5, 9.0, 1),
        (2, "g2", 1.0, 8.0, 2),
        (3, "g3", 2.0, 4.0, 3),
    ]

    def test_group_wins_over_time(self):
        owner, lost = attribute_jobs([(7, "g1", 3.0)], self.SPANS)
        self.assertEqual((owner, lost), ({7: 1}, []))

    def test_thread_pool_job_goes_to_deepest_open_span(self):
        # no group: submitted from a thread that did not inherit it
        owner, lost = attribute_jobs([(8, None, 3.5), (9, None, 6.0)], self.SPANS)
        self.assertEqual((owner, lost), ({8: 3, 9: 2}, []))

    def test_unknown_group_falls_back_to_time(self):
        owner, _ = attribute_jobs([(10, "someone-else", 9.5)], self.SPANS)
        self.assertEqual(owner, {10: 0})

    def test_job_outside_every_span_is_unattributed(self):
        owner, lost = attribute_jobs([(11, None, 12.0)], self.SPANS)
        self.assertEqual((owner, lost), ({}, [11]))


class StoredBytes(unittest.TestCase):
    def setUp(self):
        root = os.path.join(os.path.dirname(HERE), ".bench_work")
        os.makedirs(root, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=root)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_ratio_over_generated_batches(self):
        rng = np.random.default_rng(1)
        user = gen.write_table(gen.events(rng, 60), f"{self.tmp}/in/batch.parquet")
        # a store that keeps the batch twice, plus a 100-byte marker
        for v in ("v=0", "v=1"):
            os.makedirs(f"{self.tmp}/store/{v}")
            shutil.copy(f"{self.tmp}/in/batch.parquet", f"{self.tmp}/store/{v}/part.parquet")
        with open(f"{self.tmp}/store/_MARKER", "wb") as fh:
            fh.write(b"x" * 100)
        ratio = stored_bytes_per_user_byte([f"{self.tmp}/store", f"{self.tmp}/missing"], user)
        self.assertAlmostEqual(ratio, (2 * user + 100) / user)

    def test_hard_links_count_once(self):
        # a version that hard-links its parent's files stores no new bytes
        rng = np.random.default_rng(2)
        user = gen.write_table(gen.events(rng, 30), f"{self.tmp}/s/v=0/a.parquet")
        os.makedirs(f"{self.tmp}/s/v=1")
        os.link(f"{self.tmp}/s/v=0/a.parquet", f"{self.tmp}/s/v=1/a.parquet")
        self.assertEqual(stored_bytes_per_user_byte([f"{self.tmp}/s"], user), 1.0)

    def test_no_user_bytes_is_an_error(self):
        with self.assertRaises(ValueError):
            stored_bytes_per_user_byte([self.tmp], 0)


class Generator(unittest.TestCase):
    def test_same_seed_same_tables(self):
        def docs(seed):
            return gen.documents(*gen._rngs(seed, 1), 200)

        a, b, c = docs(5), docs(5), docs(6)
        self.assertTrue(a.equals(b))
        self.assertFalse(a.equals(c))
        # another seed reorders the same documents
        self.assertEqual(sorted(a.column("text").to_pylist()), sorted(c.column("text").to_pylist()))

    def test_event_values_are_whole_numbers(self):
        t = gen.events(np.random.default_rng(3), 500)
        v = t.column("value").to_numpy()
        self.assertTrue(np.array_equal(v, np.floor(v)))


class SqlMetric(unittest.TestCase):
    def test_renderings(self):
        self.assertEqual(parse_sql_metric("2,000"), 2000)
        self.assertEqual(parse_sql_metric("3.1 s"), 3.1)
        self.assertEqual(parse_sql_metric("551 ms"), 0.551)
        self.assertEqual(parse_sql_metric("1.5 m"), 90.0)
        self.assertEqual(parse_sql_metric("129.4 MiB"), 129.4 * (1 << 20))
        self.assertEqual(parse_sql_metric("0.0 B"), 0.0)
        self.assertEqual(
            parse_sql_metric("total (min, med, max (stageId: taskId))\n40.0 KiB (20.0 KiB, 20.0 KiB)"),
            40.0 * 1024,
        )
        self.assertEqual(parse_sql_metric(None), 0.0)


if __name__ == "__main__":
    unittest.main()
