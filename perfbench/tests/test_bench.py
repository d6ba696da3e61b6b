"""Tests for the benchmark's own logic.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import random
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def manifest(self, sets):
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "m.jsonl")
            gen.write_manifest(p, sets)
            with open(p) as f:
                return f.read()

    def test_backfill_is_deterministic_per_seed(self):
        a, b, c = (gen.backfill_corpus(s, 30) for s in (7, 7, 8))
        self.assertEqual(self.manifest({"corpus": a}), self.manifest({"corpus": b}))
        self.assertNotEqual(self.manifest({"corpus": a}), self.manifest({"corpus": c}))
        for api in gen.APIS:
            self.assertEqual(gen.expectation(a[api]), gen.expectation(b[api]))

    def test_daily_is_deterministic_per_seed(self):
        h1, d1 = gen.daily_corpus(3, 5, 6)
        h2, d2 = gen.daily_corpus(3, 5, 6)
        self.assertEqual(self.manifest({"hist": h1, **{str(i): x for i, x in enumerate(d1)}}),
                         self.manifest({"hist": h2, **{str(i): x for i, x in enumerate(d2)}}))

    def test_backfill_covers_every_group_kind(self):
        corpus = gen.backfill_corpus(1, 60)
        kinds = {api: {g["kind"] for g in groups} for api, groups in corpus.items()}
        self.assertEqual(kinds["apifootball"],
                         {"healthy", "no_goals", "bad_points", "unjoinable", "truncated"})
        self.assertEqual(kinds["apisports"], {"healthy", "no_goals", "unjoinable", "truncated"})
        stale = [f for g in corpus["apifootball"] for f in g["files"] if f[1] == "run_000001"]
        self.assertTrue(stale)

    def test_group_expectations(self):
        rng = random.Random(0)
        files, ok, dead = gen.make_group(rng, "apifootball", 2020, 7, "truncated", 18)
        self.assertEqual((ok, dead), ([], ("2020-7", "corrupt_input")))
        standings = [t for ep, _r, t in files if ep == "standings"][0]
        with self.assertRaises(ValueError):
            json.loads(standings)
        files, ok, dead = gen.make_group(rng, "apisports", 2021, 8, "no_goals", 16)
        self.assertIsNone(dead)
        self.assertEqual(len(ok), 16)
        col = gen.OK_COLS.index
        self.assertTrue(all(r[col("goals_for")] == 0 and r[col("goals_against")] == 0 for r in ok))
        self.assertEqual(sorted(r[col("rank")] for r in ok), list(range(1, 17)))
        _f, ok, dead = gen.make_group(rng, "apifootball", 2021, 9, "bad_points", 16)
        self.assertEqual(dead, ("2021-9", "enforcement_failure"))

    def test_daily_days_are_small_and_distinct(self):
        hist, days = gen.daily_corpus(5, 25, 9)
        keys = [(g["season"], g["league"]) for api in gen.APIS
                for groups in [hist[api]] + [d[api] for d in days] for g in groups]
        self.assertEqual(len(keys), len(set(keys)))
        self.assertTrue(all(len(d[api]) == 2 for d in days for api in gen.APIS))
        bad_days = [i for i, d in enumerate(days) if any(g["dead"] for g in d["apifootball"])]
        self.assertEqual(bad_days, [2, 5, 8])

    def test_rows_hash_ignores_order(self):
        rows = [("a", 1, None), ("b", 2, "x")]
        self.assertEqual(gen.rows_hash(rows), gen.rows_hash(list(reversed(rows))))
        self.assertNotEqual(gen.rows_hash(rows), gen.rows_hash(rows[:1]))
        self.assertEqual(gen.rows_hash([("1", 2)]), gen.rows_hash([(1, "2")]))


class StatsTest(unittest.TestCase):
    def test_median_and_spread(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(stats.median([]), 0.0)
        xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
        # statistics.quantiles(n=4), exclusive method: 2.75 and 8.25
        self.assertAlmostEqual(stats.quartile_spread(xs), (8.25 - 2.75) / 5.5)

    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 1), (2, 3)]), 2)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)

    def test_self_times(self):
        spans = [(1, 0, "op", 0, 0.0, 10.0),
                 (2, 1, "normalize.build", 0, 1.0, 5.0),
                 (3, 1, "sinks.unified", 0, 5.0, 9.0),
                 (-1, 2, "spark.job", 0, 2.0, 3.0),
                 (-2, 2, "spark.job", 0, 2.5, 4.0),   # overlaps the first job
                 (-3, 3, "spark.job", 0, 8.0, 9.5)]   # runs past its parent's end
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 3.0)
        self.assertAlmostEqual(st[-2], 1.5)

    def test_self_time_by_layer_folds_queries(self):
        spans = [(1, 0, "op", 1, 0.0, 4.0),
                 (2, 1, "queries.q01.construct", 1, 0.0, 1.0),
                 (3, 1, "queries.q02.construct", 1, 1.0, 3.0),
                 (4, 0, "op", 2, 4.0, 6.0),
                 (5, 4, "queries.q01.construct", 2, 4.0, 5.0)]
        by = stats.self_time_by_layer(spans, [1, 2])
        self.assertEqual(by["queries.construct"], 2.0)   # median of 3 and 1
        self.assertEqual(by["op"], 1.0)

    def test_uncovered(self):
        spans = [(1, 0, "op", 0, 1.0, 3.0), (2, 0, "op", 1, 4.0, 9.0),
                 (3, 1, "normalize.build", 0, 1.0, 3.0)]
        self.assertAlmostEqual(stats.uncovered((0.0, 10.0), spans), 3.0)

    def test_count_failures(self):
        ops = [{"i": 0, "error": ""}, {"i": 1, "error": "boom"},
               {"i": 2, "error": ""}, {"i": 3, "error": ""}]
        self.assertEqual(stats.count_failures(ops, {}), (4, 1))
        self.assertEqual(stats.count_failures(ops, {2: 1, 3: 0}), (4, 2))
        self.assertEqual(stats.count_failures(ops, {1: 2}), (4, 1))


if __name__ == "__main__":
    unittest.main()
