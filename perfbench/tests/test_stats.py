"""Tests for the benchmark's pure arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import importlib.util
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import pandas as pd  # noqa: E402

import stats  # noqa: E402

VALIDATE = os.path.join(os.path.dirname(BENCH), "tools", "validate.py")


class PercentileRule(unittest.TestCase):
    def test_median_needs_ten_samples_above_it(self):
        self.assertIsNone(stats.percentile(range(19), 50))
        self.assertEqual(stats.percentile(range(20), 50), 9)

    def test_p90_needs_a_hundred_samples(self):
        self.assertIsNone(stats.percentile(range(99), 90))
        self.assertEqual(stats.percentile(range(100), 90), 89)

    def test_highest_reportable_percentile(self):
        self.assertEqual(stats.highest_percentile(range(1000)), 99)
        self.assertEqual(stats.highest_percentile(range(38)), 73)
        self.assertIsNone(stats.highest_percentile(range(10)))

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3] * 6, 50), 3)


class Digests(unittest.TestCase):
    FIXTURE = pd.DataFrame({"part_id": [1, 0, 1, 0],
                            "lag": [3.5, 0.0, 1.25, 7.0],
                            "grp": ["b", "a", "a", "b"]})

    def test_independent_of_row_and_column_order(self):
        shuffled = self.FIXTURE.sample(frac=1, random_state=3)[["grp", "lag", "part_id"]]
        self.assertEqual(stats.digest(self.FIXTURE), stats.digest(shuffled))

    def test_sensitive_to_values(self):
        changed = self.FIXTURE.copy()
        changed.loc[0, "lag"] = 3.25
        self.assertNotEqual(stats.digest(self.FIXTURE), stats.digest(changed))

    @unittest.skipUnless(os.path.exists(VALIDATE), "tools/validate.py not present")
    def test_normal_form_is_validate_py_norm(self):
        spec = importlib.util.spec_from_file_location("validate", VALIDATE)
        validate = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(validate)
        self.assertTrue(stats.normalize(self.FIXTURE).equals(validate.norm(self.FIXTURE)))

    def test_parquet_and_duckdb_paths_agree(self):
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "t.parquet")
            self.FIXTURE.to_parquet(path)
            from_file = pd.read_parquet(path)
            from_duck = duckdb.connect().execute(
                f"SELECT grp, part_id, lag FROM '{path}' ORDER BY lag DESC").fetchdf()
        self.assertEqual(stats.digest(from_file), stats.digest(from_duck))


class OpenLoopLatency(unittest.TestCase):
    def test_measured_from_scheduled_not_actual_send(self):
        # due at 0 ms, sent 400 ms late by a stalled generator, committed at 1 s
        self.assertEqual(stats.open_loop_latency_ms(0, 400_000_000, 1_000_000_000), 1000.0)

    def test_uncommitted_message_has_no_latency(self):
        self.assertIsNone(stats.open_loop_latency_ms(0, 0, -1))


def span(i, parent, start, end, name="x", pass_id="p"):
    return {"id": i, "parent": parent, "start_ns": start, "end_ns": end,
            "name": name, "pass": pass_id}


class SelfTime(unittest.TestCase):
    def test_children_overlaps_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 20, 50),
                 span(4, 1, 60, 70)]
        self.assertEqual(stats.self_times(spans)[1], 100 - 40 - 10)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130)]
        self.assertEqual(stats.self_times(spans), {1: 90, 2: 40})

    def test_nested_pass_is_fully_accounted(self):
        spans = [span(1, 0, 0, 100, "pass"), span(2, 1, 0, 60), span(3, 2, 10, 20),
                 span(4, 1, 70, 95)]
        self.assertEqual(stats.pass_coverage(spans), {"p": 1.0})

    def test_child_running_past_its_pass_shows_as_excess(self):
        spans = [span(1, 0, 0, 100, "pass"), span(2, 1, 50, 150)]
        self.assertEqual(stats.pass_coverage(spans), {"p": 1.5})


if __name__ == "__main__":
    unittest.main()
