"""Tests of the benchmark's own statistics and checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
import stats  # noqa: E402


def op(latency, ok=True, name="q", pass_=0, digest="d", late=0.0, kind="query"):
    return {"kind": kind, "name": name, "pass": pass_, "latency_s": latency,
            "late_s": late, "ok": ok, "error": "" if ok else "boom", "digest": digest}


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))            # 100 samples
        v, p, n, beyond = stats.tail(xs)
        self.assertEqual((p, n, beyond), (90, 100, 10))
        self.assertEqual(v, 90)

    def test_percentile_moves_with_sample_count(self):
        self.assertEqual(stats.tail(list(range(1000)))[1], 99)
        self.assertEqual(stats.tail(list(range(40)))[1], 75)
        self.assertEqual(stats.tail(list(range(20)))[1], 50)

    def test_too_few_samples_reports_the_maximum(self):
        v, p, n, beyond = stats.tail([3.0, 1.0, 2.0])
        self.assertEqual((v, p, n, beyond), (3.0, 100, 3, 0))

    def test_ten_samples_are_really_beyond(self):
        for n in range(20, 300, 7):
            xs = list(range(n))
            v, p, _, beyond = stats.tail(xs)
            self.assertGreaterEqual(sum(x > v for x in xs), 10)
            self.assertEqual(sum(x > v for x in xs), beyond)


class FailureTest(unittest.TestCase):
    def test_failures_are_counted_but_never_timed(self):
        ops = [op(1.0), op(0.0, ok=False), op(3.0)]
        self.assertEqual(stats.timed(ops), [1.0, 3.0])
        self.assertAlmostEqual(stats.fail_ratio(ops), 1 / 3)
        self.assertEqual(stats.median(stats.timed(ops)), 2.0)

    def test_pass_with_a_failure_is_not_a_pass_time(self):
        ops = [op(1.0, pass_=0), op(2.0, pass_=0),
               op(1.0, pass_=1), op(0.1, ok=False, pass_=1)]
        self.assertEqual(stats.pass_times(ops), [3.0])

    def test_wrong_digest_is_a_failure(self):
        ops = [op(1.0, name="a", digest="good"), op(1.0, name="a", digest="bad"),
               op(1.0, name="b", digest="never-dumped")]
        verdicts = {("a", "good"): None, ("a", "bad"): "digest differs"}
        marked = stats.mark_wrong(ops, verdicts)
        self.assertEqual([o["ok"] for o in marked], [True, False, False])
        self.assertAlmostEqual(stats.fail_ratio(marked), 2 / 3)
        self.assertEqual(stats.timed(marked), [1.0])

    def test_non_query_operations_are_not_oracle_checked(self):
        ops = [op(1.0, kind="sync", digest="")]
        self.assertTrue(stats.mark_wrong(ops, {})[0]["ok"])


class OpenLoopTest(unittest.TestCase):
    def test_lateness_is_reported_in_ms(self):
        gets = [op(0.05, late=0.0, kind="get"), op(0.30, late=0.25, kind="get")]
        self.assertEqual(stats.lateness_ms(gets), [0.0, 250.0])

    def test_latency_counts_from_due_time(self):
        # a request that went out 250 ms late and took 50 ms is 300 ms
        # slow: latency is measured from when it was due
        late = op(0.30, late=0.25, kind="get")
        self.assertGreater(stats.timed([late])[0], late["late_s"])


class DigestTest(unittest.TestCase):
    def test_columns_compare_by_name_and_values_exactly(self):
        import duckdb
        con = duckdb.connect()
        a = oracle.digest(con.sql("SELECT 1 AS b, 'x' AS a, 0.5 AS c"))
        b = oracle.digest(con.sql("SELECT 'x' AS a, 1.0 AS b, 0.5::DOUBLE AS c"))
        c = oracle.digest(con.sql("SELECT 'x' AS a, 1 AS b, 0.5000001 AS c"))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_row_order_matters(self):
        import duckdb
        con = duckdb.connect()
        a = oracle.digest(con.sql("SELECT * FROM (VALUES (1), (2)) t(x)"))
        b = oracle.digest(con.sql("SELECT * FROM (VALUES (2), (1)) t(x)"))
        self.assertNotEqual(a, b)


class SpreadTest(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([10, 10, 10, 10]), 0.0)
        self.assertGreater(stats.spread([8, 10, 12, 14]), 0.2)


if __name__ == "__main__":
    unittest.main()
