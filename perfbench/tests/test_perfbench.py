"""Tests of the benchmark's own code: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import workloads  # noqa: E402
from workloads import FED_MIX, STRATA, WORKLOADS, entry_orders, fed_passes  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_reported_with_ten_samples_beyond(self):
        xs = list(range(1, 101))
        v, q, n = metrics.supported_percentile(xs, 0.9)
        self.assertEqual((q, n), (0.9, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_falls_back_to_highest_supported(self):
        xs = list(range(1, 51))
        v, q, n = metrics.supported_percentile(xs, 0.9)
        self.assertEqual((q, n), (0.8, 50))
        self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)

    def test_never_below_median(self):
        v, q, n = metrics.supported_percentile([5.0, 1.0, 3.0], 0.9)
        self.assertEqual((v, q, n), (3.0, 0.5, 3))

    def test_interpolation(self):
        self.assertEqual(metrics.percentile([0.0, 10.0], 0.25), 2.5)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, name, s, e):
        return {"id": i, "parent": parent, "name": name, "start_ms": s, "end_ms": e}

    def test_overlapping_children_and_clipping(self):
        spans = [self.span("r", None, "request", 0, 10000),
                 self.span("a", "r", "job", 1000, 3000),
                 self.span("b", "r", "job", 2000, 5000),
                 self.span("c", "r", "job", 8000, 12000)]
        st = metrics.self_times(spans)
        # children cover [1,5] and [8,10] of the parent's [0,10]
        self.assertAlmostEqual(st["request"]["self_s"], 4.0)
        self.assertAlmostEqual(st["job"]["self_s"], 2.0 + 3.0 + 4.0)
        self.assertEqual(st["job"]["count"], 3)

    def test_nested_levels_only_subtract_direct_children(self):
        spans = [self.span("r", None, "request", 0, 10000),
                 self.span("m", "r", "materialize", 0, 6000),
                 self.span("j", "m", "job", 1000, 5000)]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st["request"]["self_s"], 4.0)
        self.assertAlmostEqual(st["materialize"]["self_s"], 2.0)

    def test_covered(self):
        self.assertEqual(metrics.covered([(1, 2), (1.5, 3), (4, 9)], 0, 5), 3)
        self.assertEqual(metrics.covered([], 0, 5), 0)


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_requests(self):
        self.assertEqual(fed_passes(7), fed_passes(7))
        self.assertEqual(entry_orders(["a", "b", "c"], 7), entry_orders(["a", "b", "c"], 7))

    def test_different_seeds_differ(self):
        self.assertNotEqual(fed_passes(7), fed_passes(8))
        es = WORKLOADS["curation_batch"]["entries"]
        self.assertNotEqual(entry_orders(es, 7), entry_orders(es, 8))

    def test_every_pass_has_the_mix(self):
        for p in fed_passes(3):
            kinds = [r["kind"] for r in p]
            self.assertEqual({k: kinds.count(k) for k in FED_MIX}, FED_MIX)

    def test_names_and_sql_texts_never_repeat_within_a_seed(self):
        reqs = [r for p in fed_passes(4) for r in p]
        self.assertEqual(len({r["name"] for r in reqs}), len(reqs))
        sqls = [r["sql"] for r in reqs if r["kind"] == "sql"]
        self.assertEqual(len(sqls), len(set(sqls)))

    def test_every_request_draws_inside_its_stratum(self):
        import random
        for kind, params in STRATA.items():
            for param, strata in params.items():
                self.assertEqual(len(strata), FED_MIX[kind])
                cells = [s for s in strata if s is not None]
                self.assertEqual(sorted(cells), list(range(len(cells))))
                draws = workloads._draws(random.Random(5), kind, param)
                self.assertEqual([None if u is None else int(u * len(cells)) for u in draws], strata)

    def test_passes_repeat_one_list_but_sql_texts(self):
        strip = lambda r: {k: v for k, v in r.items() if k not in ("name", "sql")}
        passes = fed_passes(6)
        self.assertEqual([strip(r) for r in passes[0]], [strip(r) for r in passes[1]])

    def test_orders_are_permutations(self):
        es = WORKLOADS["curation_batch"]["entries"]
        for o in entry_orders(es, 3):
            self.assertEqual(sorted(o), sorted(es))


class DigestCheck(unittest.TestCase):
    def req(self, i, key, count, h, error=""):
        return {"id": i, "name": key, "count": count, "hash": h, "error": error}

    def test_planted_wrong_digest_is_caught(self):
        expected = {"a": {"count": 3, "hash": 99}, "b": {"count": 5, "hash": 7}}
        reqs = [self.req(0, "a", 3, 99), self.req(1, "b", 5, 8), self.req(2, "b", 4, 7)]
        failures = metrics.check_digests(reqs, expected)
        self.assertEqual([f["id"] for f in failures], [1, 2])

    def test_errors_and_unknown_keys_fail(self):
        expected = {"a": {"count": 3, "hash": 99}}
        reqs = [self.req(0, "a", 3, 99, error="boom"), self.req(1, "zzz", 1, 1)]
        self.assertEqual(len(metrics.check_digests(reqs, expected)), 2)


if __name__ == "__main__":
    unittest.main()
