"""Negative controls for the benchmark's output checks: a corrupted answer, a
silently unencrypted write and a denial that returned rows must each count
as a failed op.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import judge  # noqa: E402

SPECS = {
    0: {"id": 0, "denied": False, "aggs": [["count", "*"], ["sum_dec", "l_tax"]],
        "expected": ["120", "4.50"]},
    1: {"id": 1, "denied": True, "aggs": [["count", "*"], ["sum_dec", "l_extendedprice"]],
        "expected": None},
}


def fail_ratio(workload, recs, oracle_ok=None):
    verdicts = [judge.judge_op(workload, r, SPECS, oracle_ok) for r in recs]
    return sum(v not in ("ok", "denied_ok") for v in verdicts) / len(recs)


def read_ok():
    return {"type": "lineitem", "spec": 0, "outcome": "ok", "values": ["120", "4.50"]}


def read_denied():
    return {"type": "lineitem", "spec": 1, "outcome": "denied"}


def write_ok():
    return {"type": "orders", "outcome": "ok", "rows": 10, "hash": 77,
            "expected_rows": 10, "expected_hash": 77, "plain_read_leaked": False}


def engine_ok(q="q49_edit_distance"):
    return {"type": q, "outcome": "ok", "rows": 5, "hash": 9,
            "expected_rows": 5, "expected_hash": 9}


class NegativeControls(unittest.TestCase):
    def test_clean_records_pass(self):
        self.assertEqual(fail_ratio("pme_read", [read_ok(), read_denied()]), 0.0)
        self.assertEqual(fail_ratio("pme_write", [write_ok()]), 0.0)
        self.assertEqual(fail_ratio("engine_heavy", [engine_ok()],
                                    {"q49_edit_distance": True}), 0.0)

    def test_corrupted_answer(self):
        bad = dict(read_ok(), values=["120", "4.51"])
        self.assertEqual(fail_ratio("pme_read", [read_ok(), bad]), 0.5)
        self.assertEqual(fail_ratio("engine_heavy", [dict(engine_ok(), hash=10)],
                                    {"q49_edit_distance": True}), 1.0)
        self.assertEqual(fail_ratio("pme_write", [dict(write_ok(), hash=78)]), 1.0)

    def test_silently_unencrypted_write(self):
        plain = dict(write_ok(), plain_read_leaked=True)
        self.assertEqual(fail_ratio("pme_write", [write_ok(), plain]), 0.5)

    def test_denial_that_returned_rows(self):
        leaked = dict(read_denied(), outcome="ok", values=["120", "99.00"])
        self.assertEqual(fail_ratio("pme_read", [read_denied(), leaked]), 0.5)

    def test_unexpected_error_and_wrong_denial(self):
        err = dict(read_ok(), outcome="error", error="boom")
        refused = dict(read_ok(), outcome="denied")
        self.assertEqual(fail_ratio("pme_read", [err, refused]), 1.0)

    def test_oracle_mismatch_fails_every_op_of_the_query(self):
        self.assertEqual(fail_ratio("engine_heavy", [engine_ok(), engine_ok()],
                                    {"q49_edit_distance": False}), 1.0)

    def test_rows_only_query_compares_counts(self):
        q = "q132_ann_distributed_probe"
        ok = {q: True}
        self.assertEqual(fail_ratio("engine_heavy", [dict(engine_ok(q), hash=1)], ok), 0.0)
        self.assertEqual(fail_ratio("engine_heavy", [dict(engine_ok(q), rows=4)], ok), 1.0)

    def test_setup_is_the_median_warm_round(self):
        recs = [dict(read_ok(), wall_s=0.2, cpu_s=0.3)]
        m, _ = judge.end_to_end(recs, ["ok"], [20.0, 6.0, 7.0, 9.0])
        self.assertEqual(m["setup_s"], 7.0)

    def test_geomean_is_over_queries_not_tables(self):
        # Two queries of one table: 0.1 s and 0.4 s each time.
        recs = [dict(read_ok(), query=q, wall_s=w, cpu_s=0.1)
                for q, w in (("0", 0.1), ("0", 0.1), ("1", 0.4), ("1", 0.4))]
        m, _ = judge.end_to_end(recs, ["ok"] * 4, [1.0])
        self.assertAlmostEqual(m["query_geomean_s"], 0.2)

    def test_tail_has_ten_samples_beyond(self):
        lat = [float(i) for i in range(100)]
        value, pct, n = judge.tail(lat)
        self.assertEqual((value, pct, n), (89.0, 90.0, 100))
        self.assertEqual(sum(x > value for x in lat), 10)


if __name__ == "__main__":
    unittest.main()
