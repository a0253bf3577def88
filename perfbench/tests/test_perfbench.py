"""Self-tests of the benchmark's own code.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import decimal
import hashlib
import math
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import pandas as pd  # noqa: E402

import datagen  # noqa: E402
import fingerprint  # noqa: E402
import stats  # noqa: E402


def nearest_rank(xs, p):
    s = sorted(xs)
    return s[max(1, math.ceil(len(s) * p / 100)) - 1]


class TailPercentileTest(unittest.TestCase):
    def test_leaves_at_least_ten_samples_beyond(self):
        for n in range(11, 400):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > nearest_rank(xs, p))
            self.assertGreaterEqual(beyond, 10, n)
            # one percentile higher would leave fewer than ten
            if p < 99:
                beyond_next = sum(1 for x in xs if x > nearest_rank(xs, p + 1))
                self.assertLess(beyond_next, 10, n)

    def test_known_values(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(42), 76)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)


class HarrellDavisTest(unittest.TestCase):
    def test_matches_the_median_of_a_symmetric_sample(self):
        self.assertAlmostEqual(stats.hd_quantile([1, 2, 3, 4, 5], 50), 3.0, places=3)

    def test_is_monotone_in_p_and_within_range(self):
        xs = [0.1, 0.2, 0.2, 0.5, 0.9, 1.3, 1.4, 2.0, 2.1, 3.5, 0.3, 0.4]
        qs = [stats.hd_quantile(xs, p) for p in (10, 25, 50, 75, 90)]
        self.assertEqual(qs, sorted(qs))
        self.assertTrue(min(xs) < qs[0] and qs[-1] < max(xs))

    def test_moves_less_than_an_order_statistic_between_clusters(self):
        # two clusters; adding one sample flips the nearest-rank median
        a = [1.0] * 10 + [2.0] * 10
        b = a + [2.0]
        self.assertEqual(nearest_rank(b, 50) - nearest_rank(a, 50), 1.0)
        self.assertLess(stats.hd_quantile(b, 50) - stats.hd_quantile(a, 50), 0.25)


class SelfTimeTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]), 4)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((10, 20), [(5, 12), (15, 16), (18, 30)]), 5)

    def test_split_adds_up_to_the_root(self):
        spans = [
            {"id": 0, "name": "query", "parent": None, "start": 0, "end": 100},
            {"id": 1, "name": "queries.build", "parent": 0, "start": 0, "end": 40},
            {"id": 2, "name": "exec", "parent": 1, "start": 10, "end": 30},
            {"id": 3, "name": "plans", "parent": 0, "start": 40, "end": 50},
            {"id": 4, "name": "exec", "parent": 0, "start": 60, "end": 90},
            {"id": 5, "name": "exec", "parent": 0, "start": 70, "end": 95},
            {"id": 6, "name": "codegen", "parent": 1, "dur": 5},
            {"id": 7, "name": "codegen", "parent": 0, "dur": 50},
        ]
        split = stats.split_query(spans)
        self.assertAlmostEqual(sum(split.values()), 100)
        self.assertEqual(split["exec"], 55)
        self.assertEqual(split["plans"], 10)
        self.assertEqual(split["queries.build"], 15)   # 40 - 20 exec - 5 codegen
        self.assertEqual(split["codegen"], 20)         # capped by what is left
        self.assertEqual(split["query"], 0)


class FingerprintTest(unittest.TestCase):
    def test_order_independent(self):
        a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", None]})
        b = pd.DataFrame({"v": [None, "x", "y"], "k": [3, 1, 2]})
        self.assertEqual(fingerprint.of_frame(a), fingerprint.of_frame(b))

    def test_sees_a_changed_or_duplicated_row(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        self.assertNotEqual(fingerprint.of_frame(a),
                            fingerprint.of_frame(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})))
        self.assertNotEqual(fingerprint.of_frame(a),
                            fingerprint.of_frame(pd.DataFrame({"k": [1, 1, 2],
                                                               "v": [0.5, 0.5, 1.5]})))

    def test_normalises_like_the_oracle_compare(self):
        self.assertEqual(fingerprint.canon(3.0), fingerprint.canon(3))
        self.assertEqual(fingerprint.canon(float("nan")), fingerprint.canon(None))
        self.assertEqual(fingerprint.canon(datetime.date(2024, 1, 2)),
                         fingerprint.canon(pd.Timestamp("2024-01-02")))
        self.assertNotEqual(fingerprint.canon(decimal.Decimal("2.5")), fingerprint.canon(2.5))


class InputsTest(unittest.TestCase):
    def _digest(self, d):
        out = {}
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                out[f] = hashlib.sha256(fh.read()).hexdigest()
        return out

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            datagen.write_tables(a, 7, 0.001)
            datagen.write_tables(b, 7, 0.001)
            datagen.write_tables(c, 8, 0.001)
            self.assertEqual(sorted(self._digest(a)), [f"{n}.parquet" for n in sorted(datagen.TABLES)])
            self.assertEqual(self._digest(a), self._digest(b))
            self.assertNotEqual(self._digest(a)["documents.parquet"],
                                self._digest(c)["documents.parquet"])

    def test_documents_carry_near_duplicates(self):
        with tempfile.TemporaryDirectory() as t:
            datagen.write_tables(t, 7, 0.01)
            docs = pd.read_parquet(os.path.join(t, "documents.parquet"))
            self.assertTrue((docs["n_chars"] == docs["text"].str.len()).all())
            dups = docs[docs["text"].str.endswith(" dup")]
            self.assertGreater(len(dups), len(docs) // 25)
            originals = set(docs["text"])
            self.assertTrue(all(t[:-4] in originals for t in dups["text"]))


if __name__ == "__main__":
    unittest.main()
