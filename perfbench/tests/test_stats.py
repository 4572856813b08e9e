import datetime as dt
import decimal
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import oracle  # noqa: E402
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile([5], 90), 5)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertEqual(stats.tail(list(range(11))), (100.0 / 11, 0))
        self.assertEqual(stats.tail(list(range(40))), (75.0, 29))
        self.assertEqual(stats.tail(list(range(99)))[1], 88)
        level, value = stats.tail(list(range(100)))
        self.assertEqual(level, 90.0)
        self.assertEqual(len([x for x in range(100) if x > value]), 10)
        self.assertEqual(stats.tail(list(range(999)))[0], 90.0)
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail(list(range(10000)))[0], 99.9)

    def test_failed_ops_are_not_timed(self):
        ops = [{"id": 1, "kind": "read", "ok": True, "ms": 10.0},
               {"id": 2, "kind": "read", "ok": False, "ms": None},
               {"id": 3, "kind": "read", "ok": True, "ms": 1.0},  # failed its DuckDB check
               {"id": 4, "kind": "write", "ok": True, "ms": 5.0}]
        self.assertEqual(stats.ok_latencies(ops, "read", {3}), [10.0])
        self.assertEqual(stats.ok_latencies(ops, "write"), [5.0])


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([100.0, 400.0]), 200.0)
        self.assertEqual(stats.geomean([]), 0.0)

    def test_moves_smoothly_across_a_two_kind_mix(self):
        # half fast, half slow: one slow op getting faster moves the median
        # across the whole gap, the geometric mean by a small step
        fast, slow = [100.0] * 5, [400.0] * 5
        before, after = fast + slow, fast + slow[1:] + [99.0]
        self.assertEqual(stats.median(before), 250.0)
        self.assertEqual(stats.median(after), 100.0)
        self.assertLess(abs(stats.geomean(after) / stats.geomean(before) - 1), 0.15)


class OracleCacheTest(unittest.TestCase):
    def test_answer_is_computed_once_and_read_back(self):
        import tempfile
        import duckdb
        with tempfile.TemporaryDirectory() as d:
            cache = Path(d) / "oracle"
            con = duckdb.connect()
            first = oracle.oracle_answer(con, "sf", "SELECT 42 AS x, 1.5::DECIMAL(4,2) AS y", cache)
            con.close()
            self.assertEqual(len(list(cache.iterdir())), 1)
            again = oracle.oracle_answer(None, "sf", "SELECT 42 AS x, 1.5::DECIMAL(4,2) AS y",
                                         cache)
            self.assertTrue(first.equals(again))
            other = oracle.oracle_answer(duckdb.connect(), "sf2",
                                         "SELECT 42 AS x, 1.5::DECIMAL(4,2) AS y", cache)
            self.assertTrue(first.equals(other))
            self.assertEqual(len(list(cache.iterdir())), 2)


class SelfTimeTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(stats.union_ns([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_ns([]), 0)

    def test_self_time_subtracts_children_and_jobs(self):
        spans = [{"id": 1, "parent": 0, "op": 1, "layer": "op", "start": 0, "end": 100},
                 {"id": 2, "parent": 1, "op": 1, "layer": "engine", "start": 10, "end": 40},
                 {"id": 3, "parent": 1, "op": 1, "layer": "exec", "start": 40, "end": 100}]
        jobs = [{"job": 0, "group": "op-1", "start": 50, "end": 90},
                {"job": 1, "group": "", "start": 150, "end": 190}]  # between ops
        job_spans = stats.attach_jobs(spans, stats.op_jobs(spans, jobs))
        self.assertEqual([(j["parent"], j["layer"]) for j in job_spans], [(3, "spark")])
        self.assertEqual(stats.self_times(spans, job_spans),
                         {"op": 10, "engine": 30, "exec": 20, "spark": 40})

    def test_a_job_on_another_thread_belongs_to_the_op_it_ran_in(self):
        spans = [{"id": 1, "parent": 0, "op": 1, "layer": "op", "start": 0, "end": 100},
                 {"id": 2, "parent": 1, "op": 1, "layer": "gate", "start": 0, "end": 80},
                 {"id": 3, "parent": 0, "op": 2, "layer": "op", "start": 100, "end": 200}]
        jobs = [{"job": 0, "group": "stream-run-1", "start": 20, "end": 60},
                {"job": 1, "group": "op-2", "start": 120, "end": 130}]
        self.assertEqual([j["op"] for j in stats.op_jobs(spans, jobs)], [1, 2])
        job_spans = stats.attach_jobs(spans, stats.op_jobs(spans, jobs))
        self.assertEqual([j["parent"] for j in job_spans], [2, 3])


class CanonicalTest(unittest.TestCase):
    """The DuckDB side must render cells exactly as the JVM harness does."""

    def test_numbers(self):
        self.assertEqual(oracle.canonical(decimal.Decimal("1.50")), "1.5")
        self.assertEqual(oracle.canonical(decimal.Decimal("100.00")), "100")
        self.assertEqual(oracle.canonical(decimal.Decimal("0.000")), "0")
        self.assertEqual(oracle.canonical(42), "42")
        self.assertEqual(oracle.canonical(2.5), "2.5")

    def test_dates_and_times(self):
        self.assertEqual(oracle.canonical(dt.date(2024, 1, 2)), "2024-01-02")
        self.assertEqual(oracle.canonical(dt.datetime(2024, 1, 2, 3, 4, 5)), "2024-01-02 03:04:05")
        self.assertEqual(oracle.canonical(dt.datetime(2024, 1, 2, 3, 4, 5, 60)),
                         "2024-01-02 03:04:05.000060")


if __name__ == "__main__":
    unittest.main()
