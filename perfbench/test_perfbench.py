"""Tests of the benchmark's input generator and metric arithmetic.

Run from the repository root: python3 -m unittest perfbench/test_perfbench.py
"""
import datetime
import hashlib
import math
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import fixtures  # noqa: E402
import metrics  # noqa: E402


def tiny_events(path, n=600):
    base = datetime.datetime(2024, 1, 1)
    t = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([base + datetime.timedelta(minutes=7 * (i // 3)) for i in range(n)],
                       pa.timestamp("us")),
        "user_id": pa.array([i % 17 for i in range(n)], pa.int64()),
        "event_type": pa.array(["view", "click", "purchase"][i % 3] for i in range(n)),
        "value": pa.array([float(i % 11) for i in range(n)], pa.float64()),
        "props": pa.array(['{"k": %d}' % (i % 5) for i in range(n)]),
    })
    pq.write_table(t, path)
    return t


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
            h.update(str(int(os.path.getmtime(p))).encode())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.src = os.path.join(self.tmp, "events.parquet")
        self.events = tiny_events(self.src)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_pos_stride_is_coprime_and_minimal(self):
        for n in (1, 600, 100000, 36001):
            m = fixtures.pos_stride(n)
            self.assertGreaterEqual(m, n)
            self.assertEqual(math.gcd(m, 36000), 1)
            self.assertTrue(all(math.gcd(k, 36000) != 1 for k in range(n, m)))

    def test_history_copies_stride_ids_and_permute_shifts(self):
        factor = 4
        out = fixtures.history_events(self.src, factor, seed=5)
        n = self.events.num_rows
        self.assertEqual(out.num_rows, factor * n)
        ids = out.column("event_id").to_pylist()
        self.assertEqual(len(set(ids)), len(ids))
        stride = fixtures.pos_stride(n)
        base_ts = self.events.column("ts").to_pylist()
        shifts = []
        for k in range(factor):
            block = out.slice(k * n, n)
            self.assertEqual(block.column("event_id").to_pylist(), [i + k * stride for i in range(n)])
            self.assertEqual(block.column("user_id").to_pylist(), self.events.column("user_id").to_pylist())
            delta = block.column("ts").to_pylist()[0] - base_ts[0]
            self.assertEqual(delta.days % 31, 0)
            shifts.append(delta.days // 31)
        self.assertEqual(sorted(shifts), list(range(factor)))
        other = [(fixtures.history_events(self.src, factor, seed=s).column("ts")[0].as_py() - base_ts[0]).days
                 for s in range(6)]
        self.assertGreater(len(set(other)), 1, "seed must permute the per-copy shifts")

    def test_same_seed_gives_identical_files(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        sizes = fixtures.write_stream_fixture(self.src, 2, 5, 9, a)
        self.assertEqual(sizes, fixtures.write_stream_fixture(self.src, 2, 5, 9, b))
        fixtures.write_stream_fixture(self.src, 2, 5, 10, c)
        self.assertEqual(digest(a), digest(b))
        self.assertNotEqual(digest(a), digest(c))

    def test_slices_keep_time_order_and_cut_on_ts_changes(self):
        out = os.path.join(self.tmp, "s")
        sizes = fixtures.write_stream_fixture(self.src, 2, 6, 3, out)
        self.assertEqual(len(sizes), 6)
        self.assertTrue(all(s > 0 for s in sizes))
        files = sorted(os.listdir(os.path.join(out, "slices")))
        tables = [pq.read_table(os.path.join(out, "slices", f)) for f in files]
        self.assertEqual(sum(t.num_rows for t in tables), 2 * self.events.num_rows)
        mtimes = [os.path.getmtime(os.path.join(out, "slices", f)) for f in files]
        self.assertEqual(mtimes, sorted(mtimes))
        self.assertEqual(len(set(mtimes)), len(mtimes))
        for prev, nxt in zip(tables, tables[1:]):
            self.assertLess(max(prev.column("ts").to_pylist()), min(nxt.column("ts").to_pylist()))
        whole = pq.read_table(os.path.join(out, "fixture", "events.parquet"))
        self.assertEqual(whole.num_rows, 2 * self.events.num_rows)


class MetricsTest(unittest.TestCase):
    def test_percentile_interpolates_between_ranks(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(metrics.percentile(xs, 50), 3.0)
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(metrics.percentile(list(range(1, 11)), 90), 9.1)
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_busy_frac(self):
        self.assertAlmostEqual(metrics.busy_frac(8.0, 4.0, 4), 0.5)
        self.assertAlmostEqual(metrics.busy_frac(16.0, 4.0, 4), 1.0)
        self.assertEqual(metrics.busy_frac(1.0, 0.0, 4), 0.0)

    def test_hit_ratio_counts_the_building_scan_as_a_miss(self):
        self.assertEqual(metrics.hit_ratio(0, 0), 0.0)
        self.assertEqual(metrics.hit_ratio(2, 2), 0.0)
        self.assertAlmostEqual(metrics.hit_ratio(2, 8), 0.75)

    def test_gate_verdicts_parse_check_output(self):
        out = "\n".join([
            "  [pass] a_query: 3 rows",
            "  [no-oracle] b_query: 10 rows",
            "  [FAIL] c_query: 1 vs 2 rows; first diff: row 0",
            "  [FAIL] other: declared in oracleSql but no dump (query threw?)",
            "== 1 pass, 2 FAIL, 1 no-oracle =="])
        v = metrics.gate_verdicts(out, {"a_query", "b_query", "c_query", "d_query"})
        self.assertEqual(v, {"a_query": True, "b_query": True, "c_query": False, "d_query": False})

    def test_query_samples_and_end_to_end(self):
        def q(name, action, error=""):
            return {"name": name, "construct_s": 0.0, "plan_s": 0.0, "action_s": action,
                    "error": error}
        raw = {
            "setup_s": [9.0, 2.0, 3.0], "heap_live_peak_mb": 100.0,
            "passes": [
                {"wall_s": 4.0, "queries": [q("a", 1.0), q("b", 0.5), q("c", 0.1, "boom")]},
                {"wall_s": 5.0, "queries": [q("a", 3.0), q("b", 0.5), q("c", 0.1)]},
                {"wall_s": 6.0, "queries": [q("a", 2.0), q("b", 0.5), q("c", 0.1)]}]}
        self.assertEqual(sorted(metrics.query_samples(raw)),
                         [0.1, 0.1, 0.5, 0.5, 0.5, 1.0, 2.0, 3.0])
        e = metrics.end_to_end(raw)
        self.assertEqual(e["setup_s"], (3.0, "s"))
        self.assertEqual(e["pass_s"], (5.0, "s"))
        self.assertAlmostEqual(e["query_p50_s"][0], 0.5)
        self.assertAlmostEqual(e["query_p90_s"][0], 2.3)

    def test_per_layer_takes_cores_from_the_record(self):
        q = {"construct_s": 0.5, "plan_s": 0.5, "action_s": 2.0, "rows": 10.0, "error": ""}
        raw = {
            "cores": 2.0, "tables_open_s": [0.3, 0.1, 0.2], "functions": {},
            "passes": [{"wall_s": 3.0, "queries": [q], "gc_s": 0.0,
                        "counters": {"task_run_ms": 2000.0, "jobs": 3.0}}]}
        m = metrics.per_layer(raw)
        self.assertAlmostEqual(m["scheduler.busy_frac"][0], 0.5)
        self.assertEqual(m["scheduler.jobs"], (3.0, "count"))
        self.assertEqual(m["tables.open_s"], (0.2, "s"))
        self.assertEqual(m["cache.index_builds"], (0.0, "count"))


if __name__ == "__main__":
    unittest.main()
