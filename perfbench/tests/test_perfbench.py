"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""
import csv
import json
import os
import re
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402
import metrics as M  # noqa: E402

ADDRESS = re.compile(r"^0x[a-fA-F0-9]{40}$")


def read_corpus(d):
    rows = []
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name)) as f:
            rows += list(csv.DictReader(f))
    return rows


class CorpusTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = os.path.join(self.tmp.name, "c")
        self.facts = corpus.generate(self.dir, seed=3, scale=500)

    def tearDown(self):
        self.tmp.cleanup()

    def test_planted_counts_match_the_files(self):
        rows, f = read_corpus(self.dir), self.facts
        self.assertEqual(len(os.listdir(self.dir)), 8)
        self.assertEqual(len(rows), f["raw_rows"])
        keys = {}
        for r in rows:
            k = (r["tx"], r["token_id"], r["event_type"], r["timestamp"])
            keys[k] = keys.get(k, 0) + 1
        self.assertEqual(sum(1 for n in keys.values() if n > 1),
                         f["duplicate_keys"])
        neg = [r for r in rows if float(r["price_total"]) < 0]
        self.assertEqual(len(neg), f["negative_prices"])
        self.assertEqual(sum(1 for r in rows if not
                             1420070400 <= int(r["timestamp"]) <= 2000000000),
                         f["out_of_range_timestamps"])
        self.assertEqual(sum(1 for r in rows if r["seller"] and
                             not ADDRESS.match(r["seller"])),
                         f["invalid_sellers"])
        self.assertEqual(sum(1 for r in rows if not r["collection"]),
                         f["null_collections"])
        self.assertEqual({"airdrop": sum(1 for r in rows
                                         if r["event_type"] == "airdrop")},
                         f["invalid_event_types"])
        self.assertEqual(f["clean_rows"],
                         f["raw_rows"] - f["duplicate_keys"] - len(neg))
        self.assertEqual(sum(f["collections"].values()), f["clean_rows"])
        self.assertEqual(sum(f["event_types"].values()), f["clean_rows"])
        self.assertEqual(f["priced_rows"], f["event_types"]["sale"])
        self.assertEqual(f["event_types"]["transfer"] > f["event_types"]["sale"]
                         > f["event_types"]["mint"], True)

    def test_only_the_rarity_file_has_rarity_columns(self):
        for name in os.listdir(self.dir):
            with open(os.path.join(self.dir, name)) as fh:
                header = fh.readline()
            self.assertEqual("rarity_rank" in header,
                             name == "milady.csv", name)

    def test_same_seed_same_corpus_other_seed_other_facts(self):
        again = os.path.join(self.tmp.name, "again")
        self.assertEqual(corpus.generate(again, seed=3, scale=500), self.facts)
        self.assertEqual(read_corpus(again), read_corpus(self.dir))
        other = corpus.generate(os.path.join(self.tmp.name, "o"), 4, 500)
        self.assertNotEqual(other, self.facts)


class StatsTest(unittest.TestCase):
    def test_median(self):
        for xs in ([3.0], [1.0, 2.0], [5.0, 1.0, 3.0], [4, 1, 3, 2]):
            self.assertEqual(M.median(xs), statistics.median(xs))
        with self.assertRaises(ValueError):
            M.median([])

    def test_percentile(self):
        xs = [0.5, 0.1, 0.9, 0.3, 0.7]
        self.assertAlmostEqual(M.percentile(xs, 50), 0.5)
        self.assertAlmostEqual(M.percentile(xs, 0), 0.1)
        self.assertAlmostEqual(M.percentile(xs, 100), 0.9)
        self.assertAlmostEqual(M.percentile(xs, 90), 0.82)
        self.assertAlmostEqual(M.percentile([2.0], 90), 2.0)
        # same as the inclusive method of statistics.quantiles
        ys = list(range(1, 12))
        self.assertAlmostEqual(
            M.percentile(ys, 90),
            statistics.quantiles(ys, n=10, method="inclusive")[-1])


def op(name, wall, ok=True, error=None):
    d = {"name": name, "ok": ok, "build_s": wall / 2, "execute_s": wall / 2}
    if error:
        d["error"] = error
    return d


class AccountingTest(unittest.TestCase):
    def test_failures_are_counted_and_never_samples(self):
        passes = [
            {"traced": False, "ops": [op("a", 1.0), op("b", 2.0),
                                      op("c", 0.1, ok=False, error="Boom")]},
            {"traced": False, "ops": [op("a", 3.0), op("b", 4.0),
                                      op("c", 0.2, ok=False, error="Boom")]},
            {"traced": True, "ops": [op("a", 9.0), op("b", 9.0),
                                     op("c", 9.0, ok=False, error="Boom")]},
        ]
        attempted, failed, samples, failures = M.account(
            passes, {"b": "digest differs"})
        self.assertEqual(attempted, 9)
        self.assertEqual(failed, 6)  # c raised 3 times, b's check failed
        self.assertEqual(samples, {"a": [1.0, 3.0]})  # no traced samples
        self.assertEqual(failures, {"b": "digest differs", "c": "Boom"})

    def test_catalog_checks(self):
        expected = {"q1": {"rows": 3, "digest": "1-2"},
                    "q2": {"rows": 3, "digest": "1-2"},
                    "q3": {"rows": 3, "digest": "1-2"},
                    "q4": {"rows": 3, "digest": "1-2"}}
        checks = [{"name": "q1", "rows": 3, "digest": "1-2"},
                  {"name": "q2", "rows": 0, "digest": ""},
                  {"name": "q3", "rows": 3, "digest": "1-3"},
                  {"name": "q4", "error": "java.lang.ArithmeticException"},
                  {"name": "q5", "rows": 1, "digest": "5-5"}]
        bad = M.check_catalog(checks, expected)
        self.assertEqual(sorted(bad), ["q2", "q3", "q4", "q5"])
        self.assertIn("empty", bad["q2"])


class EtlCheckTest(unittest.TestCase):
    def test_a_faithful_pass_has_no_mismatch_and_a_wrong_one_does(self):
        with tempfile.TemporaryDirectory() as tmp:
            facts = corpus.generate(os.path.join(tmp, "c"), 5, 1000)
            metrics = {
                "total_rows": facts["clean_rows"],
                "total_collections": len(facts["collections"]),
                "total_tokens": facts["total_tokens"],
                "date_range": {"min": facts["date_min"],
                               "max": facts["date_max"]},
                "transactions_with_price": facts["priced_rows"],
                "null_prices": facts["clean_rows"] - facts["priced_rows"],
                "event_types": [{"event_type": k, "count": v}
                                for k, v in facts["event_types"].items()],
                "collections": [{"collection": k, "count": v}
                                for k, v in facts["collections"].items()],
            }
            with open(os.path.join(tmp, "metrics.json"), "w") as f:
                json.dump(metrics, f)
            good = {"out_dir": tmp, "metrics": metrics, "report": {
                "total_rows": facts["raw_rows"],
                "duplicate_keys": facts["duplicate_keys"],
                "negative_prices": facts["negative_prices"],
                "out_of_range_timestamps": facts["out_of_range_timestamps"],
                "invalid_addresses": {"seller": facts["invalid_sellers"],
                                      "buyer": 0},
                "null_counts": {"collection": facts["null_collections"]},
                "invalid_event_types": facts["invalid_event_types"],
                "price_mismatches": 0, "missing_columns": []}}
            rows = {"minimal_events": facts["clean_rows"],
                    "daily_collection_stats": facts["daily_rows"],
                    "token_stats": facts["token_rows"],
                    "collection_summary": 8, "collection_dimension": 8}
            self.assertEqual(M.check_etl(good, facts, rows), [])
            good["report"]["duplicate_keys"] += 1
            rows["token_stats"] = None
            miss = M.check_etl(good, facts, rows)
            self.assertEqual(len(miss), 2)


class TraceTest(unittest.TestCase):
    def test_self_time_subtracts_merged_children(self):
        spans = [
            {"id": 1, "parent": 0, "name": "pass", "start_s": 0.0, "end_s": 10.0},
            {"id": 2, "parent": 1, "name": "a", "start_s": 1.0, "end_s": 4.0},
            {"id": 3, "parent": 1, "name": "b", "start_s": 3.0, "end_s": 6.0},
            {"id": 4, "parent": 2, "name": "c", "start_s": 1.5, "end_s": 2.0},
        ]
        self.assertEqual(M.self_times(spans),
                         {"pass": 5.0, "a": 2.5, "b": 3.0, "c": 0.5})

    def test_family(self):
        self.assertEqual(M.family("ann9_adc"), "ann")
        self.assertEqual(M.family("mm3_x"), "mm")
        self.assertEqual(M.family("st7"), "st")


if __name__ == "__main__":
    unittest.main()
