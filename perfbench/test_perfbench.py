"""The benchmark's own tests: statistics, the steadiness gate, the output
checks and the result line. They need python3 with duckdb, numpy and pandas,
and no JVM:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import io
import json
import unittest
from contextlib import redirect_stdout
from types import SimpleNamespace

import pandas as pd

import checks
import run


class StatsTest(unittest.TestCase):
    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(run.percentile(xs, 50), 5)
        self.assertEqual(run.percentile(xs, 90), 9)
        self.assertEqual(run.percentile(xs, 100), 10)
        self.assertEqual(run.percentile([], 90), 0.0)

    def test_kendall_tau(self):
        self.assertEqual(run.kendall_tau([1, 2, 3, 4]), 1.0)
        self.assertEqual(run.kendall_tau([4, 3, 2, 1]), -1.0)
        self.assertEqual(run.kendall_tau([1, 3, 2, 4]), 2 / 3)


class SteadinessTest(unittest.TestCase):
    # star_olap passes measured with one warm-up pass and a 30 s window:
    # still falling, so this warm-up is too short for such a window
    WARMING = [3.599, 3.162, 2.720, 2.613, 2.553]

    def test_a_one_way_drift_fails_the_run(self):
        self.assertTrue(run.trending(self.WARMING))
        self.assertTrue(run.trending(list(reversed(self.WARMING))))

    def test_noise_and_small_drift_pass(self):
        self.assertFalse(run.trending([3.0, 2.9, 3.1, 2.95, 3.05]))
        self.assertFalse(run.trending([3.0, 2.98, 2.96, 2.94, 2.92]))
        self.assertFalse(run.trending(self.WARMING[:4]))


class CompareTest(unittest.TestCase):
    def frame(self, rows):
        return pd.DataFrame(rows, columns=["k", "v"])

    def test_order_and_last_bit_rounding_do_not_matter(self):
        a = self.frame([("x", 0.1 + 0.2), ("y", 1.0)])
        b = self.frame([("y", 1.0), ("x", 0.3)])
        self.assertIsNone(checks.compare(a, b))
        self.assertEqual(checks.digest(a), checks.digest(b))

    def test_value_row_and_schema_mismatches_are_reported(self):
        a = self.frame([("x", 1.0), ("y", 2.0)])
        self.assertIn("column v", checks.compare(a, self.frame([("x", 1.0), ("y", 2.5)])))
        self.assertIn("rows", checks.compare(a, self.frame([("x", 1.0)])))
        self.assertIn("schema", checks.compare(a, a.rename(columns={"v": "w"})))
        self.assertIn("dtype", checks.compare(a, a.assign(v=[1, 2])))
        self.assertNotEqual(checks.digest(a), checks.digest(a.assign(v=[1.0, 2.5])))


class ResultLineTest(unittest.TestCase):
    def raw(self, error=None):
        ops = [{"pass": p, "op": "q", "s": 0.5, "error": error}
               for p in range(3)]
        return {"cores": 4, "session_start_s": 4.0, "inputs_s": 1.0,
                "first_touch_s": 9.0, "setup_s": 20.0, "index_files": 3,
                "index_mb": 0.5, "input_rows": 1000, "rss_peak_mb": 2100.0,
                "setup_ops": [], "spans": [], "ops": ops,
                "passes": [{"pass": p, "s": 0.5, "traced": False}
                           for p in range(3)],
                "check": {"kind": "oracle"}}

    def result(self, raw, outputs):
        args = SimpleNamespace(workload="star_olap", seed=1, trace=0)
        checks_before = checks.run_checks
        checks.run_checks = lambda check: outputs
        try:
            out = io.StringIO()
            with redirect_stdout(out):
                run.report(args, raw)
        finally:
            checks.run_checks = checks_before
        return json.loads(out.getvalue().strip().splitlines()[-1])

    def test_contract_keys_and_end_to_end_metrics(self):
        r = self.result(self.raw(), {"q": (None, (1, "d"))})
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual((r["correct"], r["attempted"], r["failed"]), (True, 3, 0))
        self.assertEqual(set(r["metrics"]), {"setup_s", "pass_s", "op_p50_s",
                                             "op_p90_s", "rows_per_s", "rss_peak_mb"})
        self.assertEqual(r["metrics"]["rows_per_s"], {"value": 2000.0, "unit": "1/s"})

    def test_a_wrong_output_fails_every_run_of_its_op(self):
        r = self.result(self.raw(), {"q": ("rows 1 != 2", (1, "d"))})
        self.assertEqual((r["correct"], r["failed"]), (False, 3))

    def test_a_thrown_op_is_counted_not_dropped(self):
        r = self.result(self.raw(error="java.lang.RuntimeException"),
                        {"q": (None, (1, "d"))})
        self.assertEqual((r["correct"], r["attempted"], r["failed"]), (False, 3, 3))


if __name__ == "__main__":
    unittest.main()
