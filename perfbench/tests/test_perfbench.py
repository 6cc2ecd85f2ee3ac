"""The benchmark's own tests: input generators, the tail rule, metric names.

    python3 -m unittest discover -s perfbench/tests
"""

import csv
import filecmp
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen    # noqa: E402
import run    # noqa: E402
import stats  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def same_tree(a, b):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


class GeneratorTest(unittest.TestCase):

    def test_price_inputs_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            gen.price_inputs(3, a, total_units=800)
            gen.price_inputs(3, b, total_units=800)
            gen.price_inputs(4, c, total_units=800)
            self.assertTrue(same_tree(a, b))
            self.assertFalse(filecmp.cmp(os.path.join(a, "crm_extract.csv"),
                                         os.path.join(c, "crm_extract.csv"),
                                         shallow=False))

    def test_analytics_inputs_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            a, b, c = (os.path.join(d, x) for x in "abc")
            counts = gen.analytics_inputs(5, a)
            gen.analytics_inputs(5, b)
            gen.analytics_inputs(6, c)
            self.assertTrue(same_tree(a, b))
            self.assertFalse(same_tree(a, c))
            rows = {}
            for table, n in counts.items():
                with open(os.path.join(a, f"{table}.csv"), newline="") as f:
                    rows[table] = list(csv.reader(f))
                self.assertEqual(len(rows[table]), n, table)
            # every sampled line joins a sampled order, and a sampled
            # customer keeps all of its orders from the sf0.1 pool
            okeys = {r[0] for r in rows["orders"]}
            self.assertTrue(all(r[0] in okeys for r in rows["lineitem"]))
            custs = {r[1] for r in rows["orders"]}
            pool = gen._read_pool("orders")
            self.assertEqual(len(rows["orders"]),
                             sum(1 for r in pool if r[1] in custs))

    def test_price_truth_is_consistent(self):
        with tempfile.TemporaryDirectory() as d:
            t = gen.price_inputs(9, d, total_units=1200)
            self.assertEqual(t["units"], 1200)
            self.assertEqual(sum(w["rows"] for w in t["workbooks"]), 1200)
            for p, r in t["resumen"].items():
                self.assertEqual(r["Con_Match"] + r["Sin_Match"], r["Registros"], p)
                self.assertEqual(r["Cambios"] + r["Sin_Cambio"], r["Con_Match"], p)
                self.assertLessEqual(max(r["Cambios_Precio"], r["Cambios_Estado"]),
                                     r["Cambios"], p)
            self.assertEqual(t["resumen"][gen.NO_CRM_PROJECT]["Con_Match"], 0)
            self.assertEqual(sum(c[-1] for c in t["cells"]), 1200)
            with open(os.path.join(d, "crm_extract.csv")) as f:
                self.assertEqual(sum(1 for _ in f) - 1, t["crm"]["rows"])


class TailTest(unittest.TestCase):

    def test_ten_samples_lie_beyond_the_tail(self):
        xs = list(range(100))
        self.assertEqual(stats.tail(xs), (89, 90.0, 10))
        self.assertEqual(stats.tail(list(reversed(range(20)))), (9, 50.0, 10))
        self.assertEqual(stats.tail(list(range(11))), (0, 100 / 11, 10))

    def test_short_runs_fall_back_to_the_median(self):
        self.assertEqual(stats.tail([4.0]), (4.0, 50.0, 0))
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (2.0, 50.0, 1))
        self.assertEqual(stats.tail(list(range(10))), (4.5, 50.0, 5))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.tail([])


class MatchedRatioTest(unittest.TestCase):

    def test_compares_like_keys_only(self):
        traced = [("a", 2.0), ("a", 4.0), ("b", 10.0), ("c", 100.0)]
        plain = [("a", 2.0), ("b", 8.0), ("d", 1.0)]
        self.assertEqual(stats.matched_ratio(traced, plain), 13.0 / 10.0)

    def test_no_common_key(self):
        self.assertIsNone(stats.matched_ratio([("a", 1.0)], [("b", 1.0)]))


class MetricNamesTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_names_units_and_uniqueness(self):
        names = [m["name"] for k in ("end_to_end", "per_layer")
                 for m in self.spec[k]] + [w["name"] for w in self.spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for k in ("end_to_end", "per_layer"):
            for m in self.spec[k]:
                self.assertRegex(m["unit"], UNIT)
                self.assertIn(m["better"], ("lower", "higher"))

    def test_runner_prints_exactly_the_declared_metrics(self):
        self.assertEqual([m["name"] for m in self.spec["end_to_end"]],
                         list(run.END_TO_END))
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual([m["name"] for m in self.spec["per_layer"]], run.PER_LAYER)
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]},
                         {n: run.unit_of(n) for n in run.PER_LAYER})
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_bounds(self):
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


if __name__ == "__main__":
    unittest.main()
