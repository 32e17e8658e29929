"""Tests of the benchmark's own code (no engine needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import csv
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            for d in (a, b):
                gen.write_sales(os.path.join(d, "sales"), gen.plan_sales(7, [300, 800], 2))
                gen.write_tables(os.path.join(d, "tables"), 7, 0.001)
            for sub in ("sales", "tables"):
                names = sorted(os.listdir(os.path.join(a, sub)))
                self.assertTrue(names)
                match, mismatch, errors = filecmp.cmpfiles(
                    os.path.join(a, sub), os.path.join(b, sub), names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_other_bytes(self):
        a, b = gen.plan_sales(1, [500], 1), gen.plan_sales(2, [500], 1)
        self.assertNotEqual(a[0]["cols"], b[0]["cols"])

    def test_every_rule_occurs_and_breaks_the_file(self):
        plan = gen.plan_sales(3, [200] * 6, 4)
        self.assertEqual(sorted(p["rule"] for p in plan if p["rule"]), gen.RULES)
        with tempfile.TemporaryDirectory() as d:
            gen.write_sales(d, plan)
            for p in plan:
                rows = self._read(os.path.join(d, p["name"]))
                self.assertEqual(self._broken(rows), p["rule"], p["name"])

    def test_resends_earlier_uuids(self):
        plan = gen.plan_sales(4, [1000, 1000], 0)
        first, second = (set(p["cols"]["uuid"]) for p in plan)
        self.assertEqual(len(first & second), 300)

    def test_expected_sales_keeps_last(self):
        plan = gen.plan_sales(5, [400, 400, 400], 1)
        tgt, summary = gen.expected_sales(plan)
        valid = [p for p in plan if not p["rule"]]
        for r in gen.rows(valid[-1]):
            self.assertEqual(tgt[int(r["uuid"])], r)
        self.assertEqual(len(tgt), len({u for p in valid for u in p["cols"]["uuid"]}))
        self.assertEqual(set(summary), set(valid[-1]["cols"]["Country"]))

    @staticmethod
    def _read(path):
        with open(path) as f:
            if path.endswith(".csv"):
                return list(csv.DictReader(f))
            return [json.loads(line) for line in f]

    @staticmethod
    def _broken(rows):
        if set(rows[0]) != set(gen.SALES_COLUMNS):
            return "V1"
        for r in rows:
            for c in gen.NUMERIC_COLUMNS:
                try:
                    float(r[c])
                except ValueError:
                    return "V2"
            for c in ("OrderDate", "ShipDate"):
                m, d, _ = map(int, r[c].split("/"))
                if not (1 <= m <= 12 and 1 <= d <= 31):
                    return "V3"
        if len({r["uuid"] for r in rows}) != len(rows):
            return "V4"
        return None


class PercentileTest(unittest.TestCase):
    def test_ladder(self):
        for n, p in [(1, 100), (19, 100), (20, 50), (39, 50), (40, 75), (100, 90),
                     (199, 90), (200, 95), (1000, 99), (10000, 99.9)]:
            self.assertEqual(run.tail_percentile(n), p, n)

    def test_ten_samples_beyond(self):
        for n in (20, 40, 57, 100, 250, 1000, 10000):
            values = list(range(n))
            v = run.percentile(values, run.tail_percentile(n))
            self.assertGreaterEqual(sum(1 for x in values if x > v), 10, n)

    def test_nearest_rank(self):
        values = [5, 1, 4, 2, 3]
        self.assertEqual(run.percentile(values, 50), 3)
        self.assertEqual(run.percentile(values, 100), 5)
        self.assertEqual(run.percentile(values, 1), 1)


def _fake_result():
    traced = {2, 3}  # the harness runs warm passes as u t t u
    units = []
    for p in range(5):
        for name in ("a", "b"):
            trace = {k: 1.0 for k in run.PER_LAYER} if p in traced else {}
            units.append({"pass": p, "traced": p in traced, "name": name,
                          "seconds": 1.0 + p / 10, "error": None, "rows": 10, "trace": trace})
    return {"setup_s": 9.0, "calib_s": 0.8, "peak_heap_mb": 512.0, "cores": 4, "tail": 50,
            "passes": [{"pass": p, "traced": p in traced, "seconds": 2.0 + p / 5}
                       for p in range(5)],
            "units": units}


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_declared_names_and_units_match(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]}, run.PER_LAYER)
        self.assertLessEqual({w["name"] for w in self.bench["workloads"]}, set(run.WORKLOADS))

    def test_printed_names_match(self):
        res = _fake_result()
        self.assertEqual(set(run.end_to_end(res, {})), set(run.END_TO_END) | set(run.UNIT_LATENCY))
        self.assertEqual(set(run.per_layer(res, 1.5)), set(run.PER_LAYER))

    def test_warm_metrics_use_untraced_warm_passes(self):
        e2e = run.end_to_end(_fake_result(), {})
        self.assertEqual(e2e["cold_s"], 2.0)
        self.assertAlmostEqual(e2e["warm_s"], 2.5)  # passes 1 and 4
        self.assertAlmostEqual(e2e["unit_p50_s"], 1.25)


if __name__ == "__main__":
    unittest.main()
