"""Tests of the benchmark's own logic: `python3 -m unittest discover perfbench`.

The pool checks need graft's registry and live in
`src/test/scala/perfbench/PoolSpec.scala` (`sbt test` in this directory).
"""
import filecmp
import os
import tempfile
import unittest

import pandas as pd

import check
import gen
import stats


class TailRule(unittest.TestCase):
    def test_too_few_samples_give_no_tail(self):
        self.assertIsNone(stats.tail([1.0] * 19))
        self.assertIsNone(stats.tail([]))

    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(stats.tail(xs[:20]), (50, 10.0))
        self.assertEqual(stats.tail(xs[:30]), (65, 20.0))
        self.assertEqual(stats.tail(xs), (90, 90.0))
        self.assertEqual(stats.tail([float(i) for i in range(1000)])[0], 99)

    def test_order_does_not_matter(self):
        xs = [float(i) for i in range(40)]
        self.assertEqual(stats.tail(xs), stats.tail(list(reversed(xs))))


class DailyInputs(unittest.TestCase):
    def make(self, seed):
        t = tempfile.TemporaryDirectory()
        self.addCleanup(t.cleanup)
        gen.daily(t.name, seed, 12)
        return t.name

    @staticmethod
    def files(d):
        return sorted(os.path.relpath(os.path.join(r, f), d)
                      for r, _, fs in os.walk(d) for f in fs)

    def test_same_seed_gives_identical_inputs(self):
        a, b = self.make(7), self.make(7)
        self.assertEqual(self.files(a), self.files(b))
        for f in self.files(a):
            self.assertTrue(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                        shallow=False), f)

    def test_different_seeds_give_different_inputs(self):
        a, b = self.make(7), self.make(8)
        for f in ("tickers.csv", "snapshots.jsonl", os.path.join("html", "2025-01-02.html")):
            self.assertFalse(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                         shallow=False), f)

    def test_planned_failures_and_fallback_days_are_recorded(self):
        import json
        d = self.make(7)
        with open(os.path.join(d, "manifest.json")) as f:
            m = json.load(f)
        with open(os.path.join(d, "snapshots.jsonl")) as f:
            snaps = [json.loads(l) for l in f]
        self.assertEqual(m["universe"], 100)
        self.assertEqual(len(snaps), m["universe"] * 12)
        self.assertEqual(sum(m["planned_failures"]), sum(s["fail"] for s in snaps))
        self.assertEqual(m["planned_failures"], [5] * 12)
        # the cold day uses the page; each later week falls back exactly once
        self.assertFalse(m["fallback"][0])
        self.assertEqual(sum(m["fallback"][1:6]), 1)
        self.assertEqual(sum(m["fallback"][6:11]), 1)
        for day, fb in zip(m["dates"], m["fallback"]):
            with open(os.path.join(d, "html", day + ".html")) as f:
                self.assertEqual("<th>Ticker</th>" in f.read(), not fb)


class QueryCheck(unittest.TestCase):
    """`check.queries` hands each result to `tools/compare.py` and maps its
    verdicts back to the pool queries."""

    def test_verdicts(self):
        t = tempfile.TemporaryDirectory()
        self.addCleanup(t.cleanup)
        tables, results = os.path.join(t.name, "tables"), os.path.join(t.name, "check")
        gen.tables(tables, 0.001, 1)
        region = pd.read_parquet(os.path.join(tables, "region.parquet"))
        os.makedirs(os.path.join(results, "same"))
        os.makedirs(os.path.join(results, "changed"))
        region.to_parquet(os.path.join(results, "same", "part-0.parquet"))
        region.assign(r_name="X").to_parquet(
            os.path.join(results, "changed", "part-0.parquet"))
        sql = "SELECT * FROM region"
        got = dict(check.queries({
            "dir": results,
            "outputs": {"same": None, "changed": None, "failed": "boom", "bare": None},
            "oracle_sql": {"same": sql, "changed": sql, "failed": sql}}, tables))
        self.assertIsNone(got["same"])
        self.assertTrue(got["changed"].startswith("FAIL changed: r_name"), got["changed"])
        self.assertEqual(got["failed"], "boom")
        self.assertEqual(got["bare"], "no oracle SQL")


if __name__ == "__main__":
    unittest.main()
