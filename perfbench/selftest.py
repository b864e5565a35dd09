#!/usr/bin/env python3
"""Fast self-test of the benchmark's own inputs and statistics (no Spark).

    python3 perfbench/selftest.py

Checks that a seed fixes the request stream and the batch order, that
every generated ad-hoc request names only dimensions, levels, measures
and aggregates the ``loans2`` catalog declares (so none can be refused
with a 400), and that the percentile helper takes the nearest rank.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import inputs  # noqa: E402
from common import pctl  # noqa: E402


def _take(stream, n):
    return list(itertools.islice(stream, n))


class Determinism(unittest.TestCase):
    def test_same_seed_same_stream(self):
        for client in range(4):
            self.assertEqual(_take(inputs.request_stream(5, client), 500),
                             _take(inputs.request_stream(5, client), 500))
        self.assertNotEqual(_take(inputs.request_stream(5, 0), 50),
                            _take(inputs.request_stream(6, 0), 50))
        self.assertNotEqual(_take(inputs.request_stream(5, 0), 50),
                            _take(inputs.request_stream(5, 1), 50))

    def test_same_seed_same_batch_order(self):
        self.assertEqual(inputs.batch_order(3), inputs.batch_order(3))
        self.assertEqual(sorted(inputs.batch_order(3)), sorted(inputs.CLASS_OF))
        self.assertNotEqual(inputs.batch_order(3), inputs.batch_order(4))

    def test_mix_and_distinct_shapes(self):
        reqs = [r for c in range(4) for r in _take(inputs.request_stream(1, c), 4000)]
        adhoc = [r for c, r in reqs if c == "adhoc"]
        self.assertEqual(len(adhoc) / len(reqs), 0.3)
        # ten times more distinct ad-hoc shapes than the 128-entry plan cache
        self.assertGreater(len({json.dumps(r, sort_keys=True) for r in adhoc}), 1280)


class CompilesAgainstCatalog(unittest.TestCase):
    """Every request names only what the loans2 metadata declares."""

    @classmethod
    def setUpClass(cls):
        from opl_spark.facts import LOANS_META

        cls.meta = LOANS_META

    def assert_valid(self, params: dict[str, str]) -> None:
        from opl_spark.cube import CubeQuery

        q = CubeQuery(fact=self.meta, cut=params.get("cut"), drilldown=params.get("drilldown"),
                      measure=params.get("measure"), aggregate=params.get("aggregate"),
                      hierarchy=params.get("hierarchy"))
        for t in q.cut_terms:
            dim = self.meta.dimension(t.dimension)
            order = dim.hierarchy_order(q.hierarchy_by_dim.get(t.dimension))
            for member in t.spec.split(";"):
                for bound in member.split("-") if t.dimension == "date" else [member]:
                    self.assertLessEqual(len(bound.split(",")), len(order), params)
                    if t.dimension == "date":
                        for v in bound.split(","):
                            int(v)
        for term in q.drilldown.split("|"):
            dname, _, level = term.partition(":")
            dim = self.meta.dimension(dname)
            if level:
                self.assertIn(level, dim.hierarchy_order(q.hierarchy_by_dim.get(dname)), params)
        for name in q.measure.split("|"):
            m = self.meta.measure(name)
            self.assertIn(q.aggregate or m.default_aggregate, m.aggregates, params)

    def test_adhoc_requests(self):
        for client in range(4):
            for cls, params in _take(inputs.request_stream(11, client), 2000):
                if cls == "adhoc":
                    self.assert_valid(params)

    def test_dashboard_shapes(self):
        for shape in inputs.DASHBOARD_SHAPES:
            self.assert_valid(inputs.as_params(shape))


class Percentile(unittest.TestCase):
    def test_nearest_rank(self):
        s = list(range(1, 101))
        self.assertEqual(pctl(s, 0.5), 50)  # not 51: ceil(0.5·100) = 50th
        self.assertEqual(pctl(s, 0.95), 95)  # not 96
        self.assertEqual(pctl(list(range(1, 21)), 0.95), 19)
        self.assertEqual(pctl([3.0], 0.95), 3.0)
        self.assertEqual(pctl([5, 1, 4, 2, 3], 0.5), 3)

    def test_empty(self):
        with self.assertRaises(ValueError):
            pctl([], 0.5)


if __name__ == "__main__":
    unittest.main()
