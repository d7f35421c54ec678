"""Tests of the benchmark itself (no engine needed):

    python3 -m pytest perfbench/tests -q
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics as M  # noqa: E402


def digest(root):
    """sha256 over every file's relative path and bytes (not its mtime)."""
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class InputsAreSeeded(unittest.TestCase):
    def check(self, make):
        with tempfile.TemporaryDirectory() as t:
            a, b, c = (os.path.join(t, x) for x in "abc")
            counts_a = make(7, a)
            counts_b = make(7, b)
            make(8, c)
            self.assertEqual(digest(a), digest(b))
            self.assertEqual(counts_a, counts_b)
            self.assertNotEqual(digest(a), digest(c))

    def test_backfill(self):
        self.check(gen.backfill)

    def test_tables(self):
        self.check(gen.tables)

    def test_backfill_plants_what_it_reports(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as t:
            counts = gen.backfill(3, t)
            agents = pq.read_table(os.path.join(t, "feed_cdc")).to_pylist()
            ide = pq.read_table(os.path.join(t, "feed_ide")).to_pylist()
            bad = sum(1 for r in agents if None in (r["user_id"], r["event_type"], r["props"]))
            bad += sum(1 for r in ide if r["blob"] is None or r["checkpoint_ts"] == "not-a-timestamp")
            self.assertEqual(bad, counts["malformed"])
            self.assertEqual(len(agents), counts["agent_rows"])


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(M.tail(list(range(1, 20)))[0], "p50")   # 19 samples: p50 has 9.5
        self.assertEqual(M.tail(list(range(1, 21)))[0], "p50")   # 20: p50 has 10, p75 5
        self.assertEqual(M.tail(list(range(1, 41)))[0], "p75")   # 40: p75 has 10
        self.assertEqual(M.tail(list(range(1, 101)))[0], "p90")  # 100: p90 has 10
        self.assertEqual(M.tail(list(range(1, 1001)))[0], "p99")
        self.assertEqual(M.tail(list(range(1, 10001)))[0], "p99.9")

    def test_value_is_nearest_rank(self):
        self.assertEqual(M.tail(list(range(1, 101))), ("p90", 90))
        self.assertEqual(M.percentile([5, 1, 3], 50), 3)


class MetricNames(unittest.TestCase):
    def test_names_and_units_are_well_formed(self):
        names = list(M.END_TO_END) + [n for n, _ in M.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, M.NAME_RE)
        for unit in [u for u, *_ in M.END_TO_END.values()] + [u for _, u in M.PER_LAYER]:
            self.assertRegex(unit, r"^[A-Za-z0-9_/%.-]{1,16}$")
        self.assertLessEqual(len(M.PER_LAYER), 128)

    def test_benchmark_json_matches(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to the benchmark")
        with open(path) as fh:
            spec = json.load(fh)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(M.END_TO_END))
        for m in spec["end_to_end"]:
            unit, better, bound = M.END_TO_END[m["name"]]
            self.assertEqual((m["unit"], m["better"], m["bound"]), (unit, better, bound))
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], M.PER_LAYER)


class FreshnessMapping(unittest.TestCase):
    """A toy stream: three batches as its source log cut the files (the
    engine hands the runner this path -> batch id map); each file maps to
    the progress event of the batch that read it."""

    BATCH_OF = {"/feed/a.parquet": 0, "/feed/b.parquet": 0, "/feed/c.parquet": 1, "/feed/d.parquet": 2}

    def test_latency_is_progress_minus_due(self):
        published = [{"file": f"/feed/{f}", "due_ms": due}
                     for f, due in [("a.parquet", 1000), ("b.parquet", 1500), ("c.parquet", 2000),
                                    ("d.parquet", 2500), ("e.parquet", 3000)]]
        batches = [{"query": "q", "batch": 0, "seen_ms": 4000},
                   {"query": "q", "batch": 1, "seen_ms": 5000},
                   {"query": "q", "batch": 2, "seen_ms": 6500},
                   {"query": "other", "batch": 3, "seen_ms": 9000}]
        lat, missing = M.file_latencies(published, self.BATCH_OF, "q", batches)
        self.assertEqual(lat, [3.0, 2.5, 3.0, 4.0])
        self.assertEqual(missing, ["/feed/e.parquet"])

    def test_batch_without_progress_is_unconsumed(self):
        lat, missing = M.file_latencies([{"file": "/feed/d.parquet", "due_ms": 0}], self.BATCH_OF, "q",
                                        [{"query": "q", "batch": 0, "seen_ms": 1}])
        self.assertEqual((lat, len(missing)), ([], 1))


if __name__ == "__main__":
    unittest.main()
