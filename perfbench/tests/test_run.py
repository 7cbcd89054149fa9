"""Self-tests of run.py's statistics, failure accounting and oracle check.

Run with `python3 perfbench/run.py --self-test` (which also runs the JVM
side), or `python3 -m unittest discover -s perfbench/tests`.
"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import run  # noqa: E402


def op(name, pass_, ok=True, total=1.0):
    return {"name": name, "pass": pass_, "ok": ok, "build_s": 0.0,
            "action_s": total if ok else 0.0, "total_s": total if ok else 0.0,
            "error": "" if ok else "boom"}


class Statistics(unittest.TestCase):
    def test_median_reports_its_sample_count(self):
        self.assertEqual(run.median([3.0, 1.0, 2.0]), (2.0, 3))
        self.assertEqual(run.median([4.0, 1.0, 2.0, 3.0]), (2.5, 4))
        with self.assertRaises(ValueError):
            run.median([])

    def test_geomean_reports_its_sample_count(self):
        value, n = run.geomean([1.0, 4.0, 16.0])
        self.assertAlmostEqual(value, 4.0)
        self.assertEqual(n, 3)
        with self.assertRaises(ValueError):
            run.geomean([1.0, 0.0])

    def test_percentile_is_nearest_rank_with_samples_beyond(self):
        xs = list(range(1, 1001))
        self.assertEqual(run.percentile(xs, 0.99), (990, 1000, 10))
        self.assertEqual(run.percentile(xs, 0.5), (500, 1000, 500))
        self.assertEqual(run.percentile([7.0], 0.99), (7.0, 1, 0))


class FailureAccounting(unittest.TestCase):
    def result(self):
        ops = [op("a", 0), op("b", 0),
               op("a", 1, total=1.0), op("b", 1, total=2.0),
               op("a", 2, ok=False), op("b", 2, total=50.0),
               op("a", 3, total=1.5), op("b", 3, total=2.5)]
        return {"ops": ops, "timed_passes": [1, 2, 3], "passes": [3.0, 50.0, 4.0],
                "setup_s": 10.0, "held_mb": 1.0}

    def test_failed_operation_is_counted(self):
        self.assertEqual(run.accounting(self.result()), (8, 1))

    def test_failed_operation_is_not_timed(self):
        r = self.result()
        self.assertEqual(run.timed_passes(r), [3.0, 4.0])
        m = run.batch_metrics(r)
        self.assertEqual(m["pass_s"][:3:2], (3.5, 2))
        # the failed pass's other query is still a latency sample; the
        # failed query is not
        self.assertEqual(m["latency_ms"][2], 5)
        self.assertAlmostEqual(m["latency_ms"][0], (1 * 2 * 50 * 1.5 * 2.5) ** 0.2 * 1e3)

    def test_stream_failure_is_counted(self):
        self.assertEqual(run.accounting({"attempted": 12, "failed": 1}), (12, 1))


class OracleCheck(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = Path(self.tmp.name)
        self.data = root / "data"
        self.data.mkdir()
        pd.DataFrame({"r_regionkey": [0, 1, 2], "r_name": ["A", "B", "C"],
                      "r_comment": ["x", "y", "z"]}).to_parquet(self.data / "region.parquet")
        self.out = root / "outputs"
        (self.out / "q").mkdir(parents=True)
        (self.out / "oracle_sql.json").write_text(json.dumps(
            {"q": "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"}))
        self.cache = run.ORACLE_CACHE
        run.ORACLE_CACHE = root / "cache"

    def tearDown(self):
        run.ORACLE_CACHE = self.cache
        self.tmp.cleanup()

    def write(self, names):
        pd.DataFrame({"r_name": names, "r_regionkey": [2, 0, 1]}).to_parquet(
            self.out / "q" / "part-0.parquet")

    def test_matching_output_passes_in_any_row_and_column_order(self):
        self.write(["C", "A", "B"])
        self.assertEqual(run.oracle_check(self.data, self.out), [])
        # and again from the recorded digest
        self.assertEqual(run.oracle_check(self.data, self.out), [])

    def test_corrupted_output_is_rejected(self):
        self.write(["C", "A", "X"])
        bad = run.oracle_check(self.data, self.out)
        self.assertEqual(len(bad), 1)
        self.assertTrue(bad[0].startswith("FAIL q"), bad)

    def test_missing_output_is_rejected(self):
        (self.out / "q").rmdir()
        self.assertEqual(run.oracle_check(self.data, self.out), ["FAIL q: no output"])


if __name__ == "__main__":
    unittest.main()
