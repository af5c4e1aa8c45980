"""BENCHMARK.json names exactly the metrics the benchmark prints.

Run: python3 -m unittest discover perfbench/tests
"""
import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


class BenchmarkJson(unittest.TestCase):
    def test_end_to_end_matches_the_printed_metrics(self):
        self.assertEqual({m["name"]: m["unit"] for m in SPEC["end_to_end"]}, metrics.END_TO_END)
        self.assertIn("setup_s", metrics.END_TO_END)

    def test_per_layer_matches_the_printed_metrics(self):
        self.assertEqual({m["name"]: m["unit"] for m in SPEC["per_layer"]}, metrics.PER_LAYER)

    def test_names_and_bounds_are_well_formed(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"] + SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(NAME.match(n) for n in names))
        bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))

    def test_workloads_are_runnable(self):
        for w in SPEC["workloads"]:
            self.assertIn(w["name"], metrics.PRIMARY)


if __name__ == "__main__":
    unittest.main()
