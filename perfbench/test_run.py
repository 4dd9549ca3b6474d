"""Tests of the benchmark's own logic: metric names, the printed result and
the output checks. Run from the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import re
import unittest

import run

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def flagship_obs():
    return {"tally_cells": {"1": 600, "2": 400}, "rollup_cells": {"1": 600, "2": 400},
            "flagship_rows": [102, 102, 102], "brute_join_rows": 100}


PINS = {"q_a": {"rows": 5, "hash": "123"}, "q_b": {"rows": 0, "hash": "None"}}


def suite_obs():
    return {"pin.q_a": {"rows": 5, "hash": "123"}, "pin.q_b": {"rows": 0, "hash": "None"},
            "query_counts": {"q_a": [5, 5], "q_b": [0, 0]}}


def failed(checks):
    return [name for name, ok in checks if not ok]


class MetricNames(unittest.TestCase):
    def test_names_and_units_are_well_formed_and_unique(self):
        names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
        names += [w["name"] for w in SPEC["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME_RE)
            self.assertLessEqual(len(n), 64)
        for m in SPEC["end_to_end"] + SPEC["per_layer"]:
            self.assertRegex(m["unit"], UNIT_RE)
            self.assertIn(m["better"], ("higher", "lower"))

    def test_declared_workloads_are_runnable(self):
        self.assertLessEqual({w["name"] for w in SPEC["workloads"]}, set(run.WORKLOADS))

    def test_setup_metric_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertLessEqual(max(bounds.values()), 0.25)


class ResultLine(unittest.TestCase):
    def report(self, section, names):
        return {section: {n: 1.5 for n in names}}

    def test_end_to_end_line_parses(self):
        names = [m["name"] for m in SPEC["end_to_end"]]
        metrics = run.select_metrics(SPEC, self.report("end_to_end", names), "flagship", 0)
        line = json.loads(run.result_line(True, 10, 0, metrics))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(line["metrics"]), set(names))
        for m in SPEC["end_to_end"]:
            self.assertEqual(line["metrics"][m["name"]], {"value": 1.5, "unit": m["unit"]})

    def test_per_layer_fills_only_other_workloads_stages(self):
        own = [m["name"] for m in SPEC["per_layer"] if not run.foreign(m["name"], "flagship")]
        metrics = run.select_metrics(SPEC, self.report("per_layer", own), "flagship", 1)
        self.assertEqual(len(metrics), len(SPEC["per_layer"]))
        self.assertEqual(metrics["entry.group.dggs_s"]["value"], 0.0)
        self.assertEqual(metrics["ops.flagship.assign_s"]["value"], 1.5)
        with self.assertRaises(run.BenchError):
            run.select_metrics(SPEC, self.report("per_layer", own[1:]), "flagship", 1)

    def test_missing_end_to_end_metric_is_an_error(self):
        names = [m["name"] for m in SPEC["end_to_end"]][1:]
        with self.assertRaises(run.BenchError):
            run.select_metrics(SPEC, self.report("end_to_end", names), "suite", 0)


class OutputChecks(unittest.TestCase):
    def test_flagship_passes_on_consistent_output(self):
        self.assertEqual(failed(run.check_flagship(flagship_obs())), [])

    def test_flagship_catches_wrong_counts(self):
        for key, value in [("rollup_cells", {"1": 601, "2": 400}),
                           ("rollup_cells", {"1": 600, "2": 399, "3": 1}),
                           ("brute_join_rows", 101), ("flagship_rows", [102, 103, 102]),
                           ("flagship_rows", [103, 103, 103]), ("tally_cells", {})]:
            obs = flagship_obs()
            obs[key] = value
            self.assertTrue(failed(run.check_flagship(obs)), (key, value))
        for key in ("rollup_cells", "tally_cells", "brute_join_rows"):
            obs = flagship_obs()
            del obs[key]
            self.assertTrue(failed(run.check_flagship(obs)), key)

    def test_suite_passes_on_pinned_output(self):
        self.assertEqual(failed(run.check_suite(suite_obs(), PINS)), [])

    def test_suite_catches_wrong_hash_or_count(self):
        for q, field, value in [("q_a", "hash", "124"), ("q_a", "rows", 6),
                                ("q_b", "rows", 1)]:
            obs = suite_obs()
            obs["pin." + q] = dict(obs["pin." + q], **{field: value})
            self.assertTrue(failed(run.check_suite(obs, PINS)), (q, field))
        obs = suite_obs()
        obs["query_counts"]["q_a"] = [5, 4]
        self.assertTrue(failed(run.check_suite(obs, PINS)))
        obs = suite_obs()
        del obs["query_counts"]["q_b"]
        self.assertTrue(failed(run.check_suite(obs, PINS)))

    def test_pins_cover_the_suite_queries(self):
        scala = os.path.join(run.HERE, "src", "main", "scala", "perfbench", "Suite.scala")
        with open(scala) as fh:
            src = fh.read()
        block = src[src.index("val Queries"):src.index("/** the module")]
        self.assertEqual(set(re.findall(r'"([a-z0-9_]+)"', block)), set(run.load_pins()))


if __name__ == "__main__":
    unittest.main()
