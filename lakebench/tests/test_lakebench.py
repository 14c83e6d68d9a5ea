"""The benchmark's own tests (no JVM needed).

    python3 -m unittest discover -s lakebench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import canon      # noqa: E402
import gen_lake   # noqa: E402
import metrics    # noqa: E402
import plan       # noqa: E402


def _file_hashes(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


class SeedTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.lake = gen_lake.generate(os.path.join(cls.tmp.name, "lake"))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def _lake_write(self, seed, tag):
        work = os.path.join(self.tmp.name, f"{tag}_{seed}")
        p = plan.build("lake_write", seed, 20, self.lake, work)
        ops = [(o["kind"], o["args"][1:] if o["kind"] in ("merge", "ingest") else o["args"],
                o["expect"]) for ph in ("warm", "timed") for o in p[ph]]
        return ops, _file_hashes(os.path.join(work, "batches"))

    def test_same_seed_same_interactive_plan(self):
        a = plan.interactive_plan(7, 20, trace=True)
        b = plan.interactive_plan(7, 20, trace=True)
        self.assertEqual(a, b)

    def test_other_seed_other_interactive_order_and_params(self):
        a = plan.interactive_plan(7, 20)
        b = plan.interactive_plan(8, 20)
        self.assertNotEqual([o["key"] for o in a["timed"]], [o["key"] for o in b["timed"]])
        # a fixed multiset: only the order and the SQL constants differ
        kind = lambda k: k.rsplit(":", 1)[0] if k.startswith("sql:") else k
        self.assertEqual(sorted(kind(o["key"]) for o in a["timed"]),
                         sorted(kind(o["key"]) for o in b["timed"]))

    def test_traced_reads_have_twins_in_turn(self):
        p = plan.interactive_plan(7, 20, trace=True)
        traced = p["traced"]
        twins = [i for i, o in enumerate(traced) if o.get("phase") == "twin"]
        self.assertEqual(len(twins), len(p["timed"]))
        # pair k is (traced, twin) for even k and (twin, traced) for odd k
        for k, i in enumerate(twins):
            mate = traced[i + 1] if k % 2 else traced[i - 1]
            self.assertNotIn("phase", mate)
            self.assertEqual(mate["args"], traced[i]["args"])

    def test_same_seed_same_batches(self):
        ops_a, files_a = self._lake_write(3, "a")
        ops_b, files_b = self._lake_write(3, "b")
        self.assertEqual(ops_a, ops_b)
        self.assertEqual(files_a, files_b)

    def test_other_seed_other_batches(self):
        ops_a, files_a = self._lake_write(3, "c")
        ops_b, files_b = self._lake_write(4, "d")
        self.assertNotEqual(ops_a, ops_b)
        self.assertNotEqual(list(files_a.values()), list(files_b.values()))
        self.assertEqual(sorted(k for k, _, _ in ops_a), sorted(k for k, _, _ in ops_b))

    def test_lake_is_fixed(self):
        other = gen_lake.generate(os.path.join(self.tmp.name, "lake2"))
        self.assertEqual(_file_hashes(self.lake), _file_hashes(other))


class PercentileRuleTest(unittest.TestCase):
    def test_median_always_reported(self):
        self.assertEqual(metrics.percentile([3.0], 0.5), 3.0)
        self.assertEqual(metrics.percentile(list(range(20)), 0.5), 9.5)

    def test_higher_percentile_needs_ten_beyond(self):
        self.assertIsNone(metrics.percentile(list(range(99)), 0.9))
        self.assertAlmostEqual(metrics.percentile(list(range(100)), 0.9), 89.1)
        self.assertIsNone(metrics.percentile(list(range(999)), 0.99))
        self.assertIsNotNone(metrics.percentile(list(range(1000)), 0.99))

    def test_end_to_end_reports_no_tail_percentile(self):
        recs = [{"phase": "timed", "kind": "query", "ms": 100.0 + i} for i in range(17)]
        summary = {"setup_ms": 1.0, "peak_rss_mb": 1.0,
                   "reference_ms": [metrics.REFERENCE_MS] * 6}
        got = metrics.end_to_end(recs, summary, {0: None})
        self.assertAlmostEqual(got["read_p50_s_norm"][0], 0.108)
        self.assertFalse([k for k in got if "p90" in k or "p99" in k])


class HostSpeedTest(unittest.TestCase):
    def summary(self, ref_ms):
        return {"setup_ms": 1.0, "peak_rss_mb": 1.0, "reference_ms": ref_ms}

    def test_normalised_timings_cancel_a_uniformly_slower_host(self):
        recs = [{"phase": "timed", "kind": "query", "ms": 200.0 + 10 * i} for i in range(15)]
        slow = [dict(r, ms=r["ms"] * 1.4) for r in recs]
        ref = [9.0, 10.0, 11.0, 10.5, 9.5, 30.0]
        a = metrics.end_to_end(recs, self.summary(ref), {0: None})
        b = metrics.end_to_end(slow, self.summary([x * 1.4 for x in ref]), {0: None})
        for k in ("ops_per_s_norm", "read_p50_s_norm"):
            self.assertAlmostEqual(a[k][0], b[k][0])

    def test_reference_mean_is_trimmed(self):
        # one GC-length outlier in ten samples is dropped
        self.assertAlmostEqual(metrics.host_slowdown(self.summary([10.0] * 9 + [90.0])), 1.0)


class CanonTest(unittest.TestCase):
    def test_check_py_mapping(self):
        self.assertEqual(canon.canon(None), "NULL")
        self.assertEqual(canon.canon(float("nan")), "NaN")
        self.assertEqual(canon.canon(0.1 + 0.2), "0.30000000000000004")
        self.assertEqual(canon.canon(1e-05), "1e-05")
        self.assertEqual(canon.canon([1.0, None, "a"]), "[1.0,NULL,a]")
        self.assertEqual(canon.canon(True), "True")

    def test_decode_java_doubles_and_tags(self):
        raw = ('{"cols":["d","f","n","x","ts","s"],"data":['
               '[{"$d":"0.0000000000"},1.0E-5,null,NaN,{"$ts":1000001},'
               '{"$struct":[["k",-Infinity]]}]]}')
        cols, rows = canon.decode(raw)
        d, f, n, x, ts, s = rows[0]
        self.assertEqual(canon.canon(d), "0E-10")
        self.assertEqual(canon.canon(f), "1e-05")
        self.assertEqual(canon.canon(n), "NULL")
        self.assertEqual(canon.canon(x), "NaN")
        self.assertEqual(canon.canon(ts), "1970-01-01 00:00:01.000001+00:00")
        self.assertEqual(canon.canon(s), "{'k': -inf}")

    def test_digest_ignores_row_order_not_values(self):
        cols = ["b", "a"]
        rows = [[1.5, "x"], [float("nan"), None]]
        self.assertEqual(canon.digest(cols, rows), canon.digest(cols, rows[::-1]))
        self.assertEqual(canon.digest(cols, rows),
                         canon.digest(["a", "b"], [[r[1], r[0]] for r in rows]))
        self.assertNotEqual(canon.digest(cols, rows),
                            canon.digest(cols, [[1.5000000000000002, "x"], rows[1]]))


class LedgerTest(unittest.TestCase):
    def test_arithmetic(self):
        led = plan.Ledger([0, 1, 2, 3], [10, 11, 12, 13], [1.0, 2.5, 3.25, 0.1])
        brute = lambda rows, lo, hi: (
            sum(1 for k in rows if lo <= k <= hi),
            sum(k * 1000003 + c * 7 + ct for k, (c, ct) in rows.items() if lo <= k <= hi))
        self.assertEqual(led.read(0, 3), (4, sum(
            k * 1000003 + c * 7 + round(p * 100)
            for k, c, p in [(0, 10, 1.0), (1, 11, 2.5), (2, 12, 3.25), (3, 13, 0.1)])))
        led.merge([1, 4], [20, 21], [9.99, 1000.01])
        self.assertEqual(led.version, 1)
        self.assertEqual(led.rows[1], (20, 999))
        self.assertEqual(led.rows[4], (21, 100001))
        led.delete(2, 3)
        self.assertEqual(led.version, 2)
        self.assertEqual(sorted(led.rows), [0, 1, 4])
        self.assertEqual(led.read(1, 4), brute(led.rows, 1, 4))
        led.compact()
        self.assertEqual(led.version, 3)
        self.assertEqual(led.read(0, 10), brute(led.rows, 0, 10))

    def test_cents_rounding(self):
        self.assertEqual(plan.cents(1001.91), 100191)
        self.assertEqual(plan.cents(0.29), 29)

    def test_ingest_counts_novel_distinct_texts(self):
        led = plan.Ledger([0], [0], [0.0])
        self.assertEqual(led.ingest(["a", "b", "a"]), 2)
        self.assertEqual(led.ingest(["a", "c", "c", "d"]), 2)


class DigestCheckTest(unittest.TestCase):
    def _record(self, rows):
        return {"kind": "query", "key": "query:q", "error": None, "value": len(rows),
                "rows": json.dumps({"cols": ["x"], "data": rows})}

    def test_pinned_digest_passes_and_corrupted_fails(self):
        rows = [[1], [2.5], [None]]
        good = {"query:q": canon.digest(["x"], rows)}
        expected = {"index": 0, "expect": {}}
        self.assertIsNone(metrics.check_op(expected, self._record(rows), good))
        bad = {"query:q": "0" * 64}
        self.assertIsNotNone(metrics.check_op(expected, self._record(rows), bad))
        failures = metrics.check_all([dict(expected, key="query:q")],
                                     [dict(self._record(rows), index=0)], bad)
        self.assertEqual(sum(f is not None for f in failures.values()), 1)

    def test_missing_digest_and_exception_fail(self):
        expected = {"index": 0, "expect": {}}
        self.assertIsNotNone(metrics.check_op(expected, self._record([[1]]), {}))
        rec = dict(self._record([[1]]), error="java.lang.RuntimeException: boom")
        self.assertIsNotNone(metrics.check_op(expected, rec, {"query:q": "x"}))

    def test_write_checks_use_the_ledger(self):
        read = {"kind": "read", "key": "read", "error": None, "value": [3, 42]}
        self.assertIsNone(metrics.check_op({"expect": {"count": 3, "checksum": 42}}, read, {}))
        self.assertIsNotNone(metrics.check_op({"expect": {"count": 3, "checksum": 41}}, read, {}))
        ing = {"kind": "ingest", "key": "ingest", "error": None, "value": 5}
        self.assertIsNotNone(metrics.check_op({"expect": {"novel": 4}}, ing, {}))

    def test_write_call_is_not_attributed(self):
        # a commit whose only Spark job covers half of it: the rest is
        # sources self time, not a named span
        spans = [{"op": 0, "name": "op", "kind": "merge", "start": 0, "end": 100},
                 {"op": 0, "name": "commit", "start": 0, "end": 100},
                 {"op": 0, "name": "job", "start": 20, "end": 70},
                 {"op": 1, "name": "op", "kind": "query", "start": 200, "end": 300},
                 {"op": 1, "name": "construct", "start": 200, "end": 240},
                 {"op": 1, "name": "job", "start": 250, "end": 296}]
        merge, query = metrics.layer_breakdown(spans)
        self.assertAlmostEqual(merge["attributed"], 0.5)
        self.assertAlmostEqual(merge["driver_self_ms"], 50)
        self.assertAlmostEqual(merge["write_ms"], 100)
        self.assertEqual(merge["construct_ms"], 0)
        self.assertAlmostEqual(query["attributed"], 0.86)
        self.assertAlmostEqual(query["construct_ms"], 40)

    def test_pinned_file_covers_every_key(self):
        pinned = canon.load_pinned(os.path.join(os.path.dirname(__file__), "..", "digests.tsv"))
        self.assertEqual(sorted(pinned), sorted(plan.all_interactive_keys()))


if __name__ == "__main__":
    unittest.main()
