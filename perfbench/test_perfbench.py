"""Tests of the benchmark's own arithmetic and of the generator's model.

    python3 perfbench/test_perfbench.py
"""
import os
import sys
import tempfile
import unittest

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_at_least_ten_samples_above(self):
        xs = list(range(1, 26))  # 25 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual(n, 25)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(value, 15)
        self.assertAlmostEqual(pct, 60.0)

    def test_highest_such_sample(self):
        xs = [5.0] * 30 + [float(i) for i in range(100, 111)]  # 41 samples
        value, pct, _ = stats.tail(xs)
        # 11 samples above 5.0, exactly 10 above 100.0
        self.assertEqual(value, 100.0)
        self.assertAlmostEqual(pct, 100.0 * 31 / 41)

    def test_order_does_not_matter(self):
        xs = list(np.random.default_rng(3).random(57))
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs, reverse=True)))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(stats.tail(list(range(10)))[0], 9)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class KindTimeTest(unittest.TestCase):
    def op(self, kind, name, s):
        return {"kind": kind, "name": name, "s": s}

    def test_sum_of_per_name_medians(self):
        ops = [self.op("ref", "a", x) for x in (1.0, 9.0, 2.0)] + \
              [self.op("ref", "b", x) for x in (5.0, 3.0, 4.0)] + \
              [self.op("heavy", "c", 100.0)]
        self.assertEqual(stats.kind_time(ops, "ref"), 2.0 + 4.0)
        self.assertEqual(stats.kind_time(ops, "heavy"), 100.0)

    def test_one_name_a_cycle_is_the_median_over_cycles(self):
        ops = [self.op("update", "update", x) for x in (3.0, 1.0, 2.0, 8.0)]
        self.assertEqual(stats.kind_time(ops, "update"), 2.5)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end, name="etl.x"):
        return {"id": i, "parent": parent, "start": start, "end": end, "name": name}

    def test_overlapping_children_count_once(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 30),
                 self.span(3, 1, 20, 50), self.span(4, 1, 80, 120)]
        self_t = stats.self_times(spans)
        # children cover [10, 50) and [80, 100) inside the parent: 60
        self.assertEqual(self_t[1], 40)
        self.assertEqual(self_t[2], 20)
        self.assertEqual(self_t[4], 40)

    def test_grandchildren_belong_to_their_parent(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 0, 60),
                 self.span(3, 2, 10, 20)]
        self_t = stats.self_times(spans)
        self.assertEqual(self_t, {1: 40, 2: 50, 3: 10})
        # self times of a tree add up to the root's duration
        self.assertEqual(sum(self_t.values()), 100)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(stats.union_length([(0, 5), (3, 8)], lo=4, hi=6), 2)
        self.assertEqual(stats.union_length([]), 0)

    def test_innermost(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 50),
                 self.span(3, 2, 20, 30)]
        self.assertEqual(stats.innermost(spans, 25)["id"], 3)
        self.assertEqual(stats.innermost(spans, 40)["id"], 2)
        self.assertEqual(stats.innermost(spans, 99)["id"], 1)
        self.assertIsNone(stats.innermost(spans, 100))

    def test_layer(self):
        self.assertEqual(stats.layer_of("queries.llm.QualityClassifier.q312"), "queries")


class FingerprintTest(unittest.TestCase):
    cols = ["id", "Name", "score", "tags"]
    rows = [(1, "a", 0.1, [1.0, 2.0]), (2, "bb", None, []), (3, None, 0.2, None)]

    def test_row_order_and_float_noise(self):
        a = stats.fingerprint(self.cols, self.rows)
        b = stats.fingerprint(self.cols, [self.rows[2], self.rows[0],
                                          (2, "bb", None, [])])
        self.assertTrue(stats.same_fingerprint(a, b))
        noisy = [(1, "a", 0.1 + 1e-12, [1.0, 2.0])] + self.rows[1:]
        self.assertTrue(stats.same_fingerprint(stats.fingerprint(self.cols, noisy), a))

    def test_detects_changes(self):
        a = stats.fingerprint(self.cols, self.rows)
        for changed in ([(1, "c", 0.1, [1.0, 2.0])] + self.rows[1:],
                        [(1, "a", 0.3, [1.0, 2.0])] + self.rows[1:],
                        self.rows[:2],
                        [(1, "a", 0.1, [1.0])] + self.rows[1:]):
            self.assertFalse(stats.same_fingerprint(
                stats.fingerprint(self.cols, changed), a))

    def test_summary_shape(self):
        fp = stats.fingerprint(self.cols, self.rows)
        self.assertEqual(fp["rows"], 3)
        self.assertEqual(fp["name|nulls"], 1)
        self.assertEqual(fp["name|chars"], 3)
        self.assertEqual(fp["tags|items"], 2)
        self.assertAlmostEqual(fp["score|sum"], 0.3)


class GeneratorModelTest(unittest.TestCase):
    """The expected-state model on a tiny seed, against a plain replay."""

    def base(self, n=200):
        cols = gen._events(np.random.default_rng(7), n, 10)
        return cols

    def test_source_versions(self):
        base = self.base()
        prev = {int(k) for k in base["event_id"]}
        for h, src, ups in gen.etl_versions(11, 4, base):
            keys = [int(k) for k in src["event_id"]]
            self.assertEqual(len(keys), len(set(keys)), "keys stay unique")
            now = set(keys)
            self.assertEqual(len(prev - now), gen.ETL_DELETES)
            self.assertEqual(len(now - prev), gen.ETL_ADDS)
            lo = gen.ETL_T0_US + (h - 1) * gen.HOUR_US
            hi = gen.ETL_T0_US + h * gen.HOUR_US
            # this hour's upserts are exactly the rows in its window
            in_window = {int(k) for k, t in zip(src["event_id"], src["ts"]) if lo <= t < hi}
            self.assertEqual(in_window, {int(k) for k in ups["event_id"]})
            prev = now

    def test_upsert_model_matches_replay(self):
        base = self.base()
        state = base
        replay = {int(k): (int(u), float(v)) for k, u, v in
                  zip(base["event_id"], base["user_id"], base["value"])}
        for h, src, ups in gen.etl_versions(5, 6, base):
            state = gen.upsert_into(state, ups)
            for k, u, v in zip(ups["event_id"], ups["user_id"], ups["value"]):
                replay[int(k)] = (int(u), float(v))
            got = gen.etl_agg(state)
            self.assertEqual(got[0], len(replay))
            self.assertEqual(got[1], sum(replay))
            self.assertEqual(got[2], sum(u for u, _ in replay.values()))
            self.assertEqual(got[3], sum(round(v * 100) for _, v in replay.values()))

    def test_csv_drops_plant_what_they_report(self):
        files, clean, dirty = gen.csv_drops(3)
        bad = 0
        rows = 0
        for f in files:
            for line in f.decode().splitlines()[1:]:
                rows += 1
                _, _, amount, qty, _ = line.split(",")
                bad += amount.endswith("x") or qty == "n/a"
        self.assertEqual((rows, bad), (clean + dirty, dirty))

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate("ingest_flatfile", 9, os.path.join(d, "a"))
            b = gen.generate("ingest_flatfile", 9, os.path.join(d, "b"))
            self.assertEqual(a, b)
            for sub in ("ingest/served/bulk_export.tar.gz", "ingest/drops/drop-00.csv"):
                with open(os.path.join(d, "a", sub), "rb") as x, \
                        open(os.path.join(d, "b", sub), "rb") as y:
                    self.assertEqual(x.read(), y.read())


if __name__ == "__main__":
    unittest.main()
