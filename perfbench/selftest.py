"""Self-tests of the benchmark's own contract. Pure Python, no Spark:

    python3 perfbench/selftest.py

- the same seed gives an identical request sequence, another seed a
  different one;
- the miss-only workloads never repeat a question string, and warm-up,
  check and trace questions never collide with the timed pool;
- a tag never changes what the planners emit;
- the mixed pool is larger than the engine's result cache;
- the metric names the benchmark prints match ``BENCHMARK.json``.
"""

from __future__ import annotations

import importlib
import itertools
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import traffic  # noqa: E402

PACKAGE = "ai_driven_data_fabric_architecture_for_unified_intelligent_information_retrieval_from_database_spark"


def _flat(workload, seed, n, kind="ref"):
    return [q for r in traffic.rounds(workload, seed, n, kind) for q in r]


class TrafficTest(unittest.TestCase):
    def test_same_seed_same_sequence(self):
        for w in ("nl_employees", "nl_star_sf01"):
            self.assertEqual(_flat(w, 5, 4), _flat(w, 5, 4))
            self.assertNotEqual(_flat(w, 5, 4), _flat(w, 6, 4))
        self.assertEqual(traffic.mixed_pool(3), traffic.mixed_pool(3))
        draws = lambda: [traffic.ZipfSampler(100, "s").draw() for _ in range(50)]  # noqa: E731
        self.assertEqual(draws(), draws())

    def test_miss_only_workloads_never_repeat(self):
        for w in ("nl_employees", "nl_star_sf01"):
            timed = _flat(w, 11, 60)
            self.assertEqual(len(timed), len(set(timed)))
            others = set(_flat(w, 11, 2, "warm0")) | set(_flat(w, 11, 60, "trace"))
            self.assertFalse(others & set(timed))

    def test_mixed_pool_exceeds_cache(self):
        engine = importlib.import_module(f"{PACKAGE}.engine")
        pool = traffic.mixed_pool(2)
        self.assertEqual(len(pool), len(set(pool)))
        self.assertGreater(len(pool), engine.CACHE_MAX_ENTRIES)

    def test_tag_does_not_change_the_plan(self):
        planner = importlib.import_module(f"{PACKAGE}.plans.planner")
        star = importlib.import_module(f"{PACKAGE}.plans.star_planner")
        for w, n in (("nl_employees", 3), ("nl_star_sf01", 3)):
            for q in _flat(w, 1, n):
                bare = q[: q.rindex(" (")]
                self.assertEqual(planner.plan(q).sql, planner.plan(bare).sql, q)
                a, b = star.plan_star(q), star.plan_star(bare)
                self.assertEqual(a and (a.sql, a.operator_args), b and (b.sql, b.operator_args), q)
                self.assertEqual(traffic.stub_llm(q, ""), traffic.stub_llm(bare, ""), q)

    def test_every_template_routes(self):
        star = importlib.import_module(f"{PACKAGE}.plans.star_planner")
        for q in _flat("nl_star_sf01", 2, 3):
            self.assertTrue(traffic.stub_llm(q, "") or star.plan_star(q), q)

    def test_tags_are_distinct(self):
        tags = [traffic.tag("ref", i) for i in range(5000)]
        self.assertEqual(len(tags), len(set(tags)))
        self.assertFalse(any(ch.isdigit() for t in tags for ch in t))


class ContractTest(unittest.TestCase):
    def test_metric_names_match_benchmark_json(self):
        import measure
        import run

        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual(set(run.E2E_UNITS), {m["name"] for m in spec["end_to_end"]})
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, measure.PER_LAYER_UNITS)
        self.assertTrue({w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS))

    def test_metric_names_are_well_formed(self):
        import re

        import measure

        for name in itertools.chain(measure.PER_LAYER_UNITS, ["setup_s"]):
            self.assertRegex(name, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        for unit in measure.PER_LAYER_UNITS.values():
            self.assertTrue(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit), unit)


if __name__ == "__main__":
    unittest.main()
