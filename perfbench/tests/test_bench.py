"""Tests for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import stats  # noqa: E402
from run import _tree_hash  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))  # median leaves 9 beyond
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(99), 50.0)  # p90 leaves 9
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(999), 90.0)  # p99 leaves 9
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_tail_rule_holds_for_every_n(self):
        def beyond(xs, p):
            v = stats.percentile(xs, p)
            return sum(1 for x in xs if x > v)
        for n in range(1, 1200):
            xs = list(range(n))
            p = stats.tail_percentile(n)
            higher = [q for q in stats.TAIL_CANDIDATES if p is None or q > p]
            if p is not None:
                self.assertGreaterEqual(beyond(xs, p), 10, (n, p))
            for q in higher:  # every higher candidate leaves fewer than ten
                self.assertLess(beyond(xs, q), 10, (n, q))


class ResultLine(unittest.TestCase):
    def test_round_trips_through_json(self):
        metrics = {"wall_s": (12.3456789012345, "s"), "op_p50_ms": (0.1 + 0.2, "ms"),
                   "spark.jobs": (17, "count")}
        line = stats.result_line(True, 54, 1, metrics)
        back = json.loads(line)
        self.assertEqual(set(back), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(back["correct"], True)
        self.assertEqual((back["attempted"], back["failed"]), (54, 1))
        for k, (v, u) in metrics.items():
            self.assertEqual(back["metrics"][k], {"value": float(v), "unit": u})
        self.assertEqual(back["metrics"]["wall_s"]["value"], 12.3456789012345)  # all digits
        self.assertNotIn("\n", line)


class GeneratorDeterminism(unittest.TestCase):
    def _digest(self, fn, seed):
        with tempfile.TemporaryDirectory() as d:
            out = fn(d, seed)
            return _tree_hash(d), out

    def test_tables(self):
        small = lambda d, s: gen.tables(d, s, sf=0.002)  # noqa: E731
        self.assertEqual(self._digest(small, 1)[0], self._digest(small, 1)[0])
        self.assertNotEqual(self._digest(small, 1)[0], self._digest(small, 2)[0])

    def test_sec_quarters(self):
        small = lambda d, s: gen.sec_quarters(d, s, subs=30, facts=600)  # noqa: E731
        a, rows_a = self._digest(small, 5)
        b, rows_b = self._digest(small, 5)
        c, _ = self._digest(small, 6)
        self.assertEqual((a, rows_a), (b, rows_b))
        self.assertNotEqual(a, c)
        self.assertEqual(rows_a["pre"], 600 * len(gen.SEC_QUARTERS))  # size fixed by design

    def test_sec_skew_is_the_same_for_every_seed(self):
        import collections
        import zipfile

        def sizes(seed):  # facts per filer, largest first
            with tempfile.TemporaryDirectory() as d:
                gen.sec_quarters(d, seed, subs=30, facts=600)
                with zipfile.ZipFile(f"{d}/{gen.SEC_QUARTERS[0]}.zip") as z:
                    adsh = [l.split("\t")[0] for l in  # noqa: E741
                            z.read("pre.txt").decode().splitlines()[1:]]
            return sorted(collections.Counter(adsh).values(), reverse=True)
        self.assertEqual(sizes(5), sizes(6))
        self.assertGreater(sizes(5)[0], 600 / 30 * 3)  # one filer owns many facts

    def test_upsert_feed_and_requests(self):
        a = self._digest(lambda d, s: gen.upsert_feed(d, s, keys=200), 3)
        b = self._digest(lambda d, s: gen.upsert_feed(d, s, keys=200), 3)
        c = self._digest(lambda d, s: gen.upsert_feed(d, s, keys=200), 4)
        self.assertEqual(a, b)
        self.assertNotEqual(a[0], c[0])
        self.assertEqual(gen.serve_requests(9), gen.serve_requests(9))
        self.assertNotEqual(gen.serve_requests(9), gen.serve_requests(10))

    def test_request_mix(self):
        for seed in (1, 2):  # every seed: the same work per pass
            reqs = gen.serve_requests(seed)
            count = lambda r: sum(1 for x in reqs if x["route"] == r)  # noqa: E731
            self.assertEqual({r: count(r) for r, _ in gen.SERVE_MIX}, dict(gen.SERVE_MIX))
            self.assertEqual(len({(x["source"], x["data_type"]) for x in reqs
                                  if x["route"] == "get-financial-data"}), 9)
        reqs = gen.serve_requests(1, passes=20)
        looks = [x for x in reqs if x["route"] == "table-lookup"]
        absent = [x for x in looks if x["key"] >= gen.UPSERT_KEYS]
        self.assertAlmostEqual(len(looks) / len(reqs), 0.50, delta=0.01)
        self.assertAlmostEqual(len(absent) / len(looks), 0.10, delta=0.01)
        top = max(sum(1 for x in looks if x["key"] == k["key"]) for k in looks)
        self.assertGreater(top, len(looks) / 20)  # Zipf: one hot key

    def test_sec_dirty_traits(self):
        import io
        import zipfile
        with tempfile.TemporaryDirectory() as d:
            gen.sec_quarters(d, 1, subs=120, facts=4000)
            with zipfile.ZipFile(f"{d}/{gen.SEC_QUARTERS[0]}.zip") as z:
                read = lambda n: [l.split("\t") for l in  # noqa: E731,E741
                                  io.TextIOWrapper(z.open(n)).read().splitlines()[1:]]
                num, pre, sub = read("num.txt"), read("pre.txt"), read("sub.txt")
        keys = [tuple(r[:7]) for r in num]
        self.assertGreater(len(keys), len(set(keys)))  # duplicate facts under one adsh
        self.assertTrue(any(r[4] == "0" for r in num))  # qtrs=0
        self.assertTrue(any(r[8] == "NaN" for r in num))  # NaN value
        self.assertTrue(any(r[8] == "" for r in pre))  # null plabel
        self.assertTrue({"IS", "IC"} <= {r[3] for r in pre})  # IS/IC drift
        self.assertTrue(any(len(r[24]) == 3 for r in sub))  # 3-digit fye
        per_adsh = {}
        for r in num:
            per_adsh[r[0]] = per_adsh.get(r[0], 0) + 1
        top = sorted(per_adsh.values(), reverse=True)
        self.assertGreater(sum(top[:10]) / sum(top), 0.15)  # a few filers own many facts


if __name__ == "__main__":
    unittest.main()
