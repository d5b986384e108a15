"""Tests of the benchmark's own logic (no Spark needed).

Run from the repository root:  python3 perfbench/test_perfbench.py
"""
import json
import os
import sys
import tempfile
import unittest
from decimal import Decimal

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import analysis  # noqa: E402
import compare  # noqa: E402
import gen  # noqa: E402
import refs  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(analysis.percentile(xs, 50), 50)
        self.assertEqual(analysis.percentile(xs, 90), 90)
        self.assertEqual(analysis.percentile([3.0], 90), 3.0)
        self.assertEqual(analysis.percentile([5, 1, 4, 2, 3], 90), 5)

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertFalse(analysis.p90_supported(99))
        self.assertTrue(analysis.p90_supported(100))


class SpanArithmetic(unittest.TestCase):
    def test_union_with_overlapping_jobs(self):
        self.assertEqual(analysis.union_len([(10, 30), (20, 40), (60, 70)]), 40)
        self.assertEqual(analysis.union_len([(10, 30), (20, 40)], lo=25, hi=35), 10)
        self.assertEqual(analysis.union_len([]), 0)

    def test_driver_gap_counts_overlap_once(self):
        op = (0, 100)
        jobs = [(10, 30), (20, 40), (60, 70), (95, 120)]
        self.assertEqual(analysis.driver_gap(op, jobs), 100 - 30 - 10 - 5)

    def test_self_time(self):
        self.assertEqual(analysis.self_time((0, 100), [(0, 50), (40, 60)]), 40)
        self.assertEqual(analysis.self_time((0, 10), []), 10)

    def test_phases_plus_gap_add_up_to_wall_unless_phases_overlap(self):
        op = (0, 100)
        disjoint = [("load", (10, 30)), ("load", (20, 40)), ("audit", (50, 80))]
        phases = analysis.phase_times(op, disjoint)
        gap = analysis.driver_gap(op, [iv for _, iv in disjoint])
        self.assertEqual(phases, {"load": 30, "audit": 30})
        self.assertEqual(sum(phases.values()) + gap, 100)
        crossing = [("load", (10, 40)), ("audit", (30, 60))]
        phases = analysis.phase_times(op, crossing)
        gap = analysis.driver_gap(op, [iv for _, iv in crossing])
        self.assertEqual(sum(phases.values()) + gap, 110)

    def test_etl_phase_is_innermost_named_frame(self):
        site = ("org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:369)\n"
                "graft.etl.Sources$.overwriteTable(Sources.scala:38)\n"
                "graft.etl.Pipeline$.updateCustomerTotals(Pipeline.scala:81)\n"
                "graft.etl.Pipeline$.run(Pipeline.scala:59)")
        self.assertEqual(analysis.etl_phase(site), "refresh")
        self.assertEqual(analysis.etl_phase(
            "x.y(A.scala:1)\ngraft.etl.Sources$.readCsv(Sources.scala:23)"), "extract")
        self.assertIsNone(analysis.etl_phase("perfbench.Json$.rows(Main.scala:1)"))

    def test_trace_overhead(self):
        ops = [{"traced": False, "start": 0, "end": 1000}, {"traced": True, "start": 0, "end": 1250},
               {"traced": False, "start": 0, "end": 1000}]
        self.assertAlmostEqual(analysis.trace_overhead(ops), 1 / 1.25 - 1)


def money(exact, n=4, abs_sum=None):
    e = Decimal(exact)
    return refs.Money(e, refs.sum_bound(n, abs(e) if abs_sum is None else abs_sum), 2)


class TieRule(unittest.TestCase):
    def test_exact_tie_accepts_either_neighbour(self):
        self.assertEqual(refs.check_money(1.02, money("1.015")), (True, False))
        self.assertEqual(refs.check_money(1.01, money("1.015")), (True, True))
        self.assertEqual(refs.check_money(1.03, money("1.015")), (False, False))

    def test_one_cent_off_a_tie_is_rejected(self):
        self.assertEqual(refs.check_money(1.01, money("1.013")), (True, False))
        self.assertEqual(refs.check_money(1.02, money("1.013")), (False, False))
        self.assertEqual(refs.check_money(1.03, money("1.02")), (False, False))

    def test_tie_needs_the_error_bound_to_reach_it(self):
        near = refs.Money(Decimal("1.0150001"), Decimal("1e-12"), 2)
        self.assertEqual(refs.check_money(1.01, near), (False, False))
        wide = refs.Money(Decimal("1.0150001"), Decimal("1e-6"), 2)
        self.assertEqual(refs.check_money(1.01, wide), (True, True))

    def test_avg_is_sum_over_count_half_up(self):
        avg = refs.money_avg(Decimal("4.06"), 4, Decimal("4.06"), 2)
        self.assertEqual(avg.exact, Decimal("1.015"))
        self.assertEqual(refs.half_up(avg.exact, 2), Decimal("1.02"))

    def test_unrounded_money_within_bound(self):
        ref = refs.Money(Decimal("0.3"), refs.sum_bound(3, Decimal("0.3")), None)
        self.assertEqual(refs.check_money(0.1 + 0.1 + 0.1, ref), (True, False))
        self.assertEqual(refs.check_money(0.31, ref), (False, False))

    def test_compare_rows(self):
        cols = ["k", "v"]
        ref = [["a", money("1.015")], ["b", money("2.00")]]
        errors, ties = refs.compare(cols, [["b", 2.0], ["a", 1.01]], cols, ref)
        self.assertEqual(errors, [])
        self.assertEqual([t["column"] for t in ties], ["v"])
        errors, _ = refs.compare(cols, [["a", 1.02]], cols, ref)
        self.assertTrue(errors and "rows" in errors[0])
        errors, _ = refs.compare(cols, [["a", 1.02], ["c", 2.0]], cols, ref)
        self.assertTrue(errors)

    def test_compare_ordering(self):
        cols = ["k", "v"]
        ref = [["a", 1], ["b", 2]]
        self.assertEqual(refs.compare(cols, [["a", 1], ["b", 2]], cols, ref, [("k", False)])[0], [])
        self.assertTrue(refs.compare(cols, [["b", 2], ["a", 1]], cols, ref, [("k", False)])[0])
        self.assertEqual(refs.compare(cols, [["b", 2], ["a", 1]], cols, ref, [("v", True)])[0], [])

    def test_digest_tolerates_one_unit_per_tie_cell(self):
        checked = {"n": "2", "h": "1", "hx": "1", "he": "7", "f0:v": "30150"}
        tie = [{"column": "v", "scale": 2}]
        flipped = {"n": "2", "h": "9", "hx": "9", "he": "7", "f0:v": "30250"}
        self.assertTrue(refs.digest_matches(flipped, checked, tie))
        self.assertFalse(refs.digest_matches(flipped, checked, []))
        wrong_key = dict(flipped, he="8")
        self.assertFalse(refs.digest_matches(wrong_key, checked, tie))


class Seeds(unittest.TestCase):
    def test_same_seed_same_digest_other_seed_other_values(self):
        with tempfile.TemporaryDirectory() as d:
            for kind in ("etl", "tpch", "corpus"):
                a = gen.generate(kind, 7, os.path.join(d, "a"))
                b = gen.generate(kind, 7, os.path.join(d, "b"))
                c = gen.generate(kind, 8, os.path.join(d, "c"))
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)
        x, y = gen.tpch_tables(7), gen.tpch_tables(8)
        self.assertNotEqual(sorted(x["lineitem"]["l_extendedprice"]),
                            sorted(y["lineitem"]["l_extendedprice"]))
        self.assertNotEqual(sorted(gen.corpus_tables(7)["documents"]["text"]),
                            sorted(gen.corpus_tables(8)["documents"]["text"]))
        self.assertNotEqual(sorted(gen.etl_tables(7)["orders"]["total_amount"]),
                            sorted(gen.etl_tables(8)["orders"]["total_amount"]))


class RunIdentity(unittest.TestCase):
    def run_lines(self, cpus):
        detail = {"workload": "etl_load", "seed": 1, "cpus": cpus, "sizes": {"orders": 1},
                  "commit": "c", "seconds": 5.0, "trace": 0}
        result = {"correct": True, "attempted": 1, "failed": 0,
                  "metrics": {"op_p50_s": {"value": 1.0, "unit": "s"}}}
        return json.dumps(detail) + "\n" + json.dumps(result) + "\n"

    def test_compare_refuses_different_cpus(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = os.path.join(d, "a"), os.path.join(d, "b")
            with open(a, "w") as f:
                f.write(self.run_lines(4))
            with open(b, "w") as f:
                f.write(self.run_lines(8))
            runs = compare.load(a)["etl_load"] + compare.load(b)["etl_load"]
            with self.assertRaises(SystemExit):
                compare.identity(runs)
            self.assertIn('"cpus": 4', compare.identity(compare.load(a)["etl_load"]))


if __name__ == "__main__":
    unittest.main()
