"""Tests for the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_reports_only_percentiles_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail(list(range(999)))[0], 95.0)
        self.assertEqual(stats.tail(list(range(200)))[0], 95.0)
        self.assertEqual(stats.tail(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail(list(range(40)))[0], 75.0)
        self.assertIsNone(stats.tail(list(range(39))))
        self.assertIsNone(stats.tail([]))

    def test_value_is_the_interpolated_percentile(self):
        level, value = stats.tail([float(x) for x in range(101)])
        self.assertEqual(level, 90.0)
        self.assertAlmostEqual(value, 90.0)
        self.assertEqual(stats.median([3, 1, 2]), 2)


def write_offset_log(ckpt, batches, compact_at=None):
    """Writes a file-source offset log: one file per batch, or a `.compact`
    roll-up of every batch up to `compact_at`, as Spark does."""
    log = os.path.join(ckpt, "sources", "0")
    os.makedirs(log)
    for b, files in enumerate(batches):
        entries = [(b, f) for f in files]
        name = str(b)
        if compact_at is not None and b == compact_at:
            entries = [(i, f) for i, fs in enumerate(batches[:b + 1]) for f in fs]
            name = "%d.compact" % b
        elif compact_at is not None and b < compact_at:
            continue  # rolled up into the compact file
        with open(os.path.join(log, name), "w") as out:
            out.write("v1\n")
            for i, f in entries:
                out.write(json.dumps({"path": "file:///land/" + f, "timestamp": 1,
                                      "batchId": i}) + "\n")


class FileToBatch(unittest.TestCase):
    def test_maps_each_file_to_the_batch_that_read_it(self):
        with tempfile.TemporaryDirectory() as d:
            write_offset_log(d, [["a.json"], ["b.json", "c.json"], ["d.json"]])
            self.assertEqual(stats.file_batches(d),
                             {"a.json": 0, "b.json": 1, "c.json": 1, "d.json": 2})

    def test_reads_compacted_logs(self):
        with tempfile.TemporaryDirectory() as d:
            write_offset_log(d, [["a"], ["b"], ["c", "d"], ["e"]], compact_at=2)
            self.assertEqual(stats.file_batches(d),
                             {"a": 0, "b": 1, "c": 2, "d": 2, "e": 3})

    def test_freshness_runs_from_due_time_to_the_batch_commit(self):
        merges = [{"batch": 0, "commit_ms": 1500}, {"batch": 0, "commit_ms": 1700},
                  {"batch": 1, "commit_ms": -1}, {"batch": 2, "commit_ms": 4000}]
        commits = stats.batch_commits(merges)
        self.assertEqual(commits, {0: 1700, 2: 4000})
        landed = [("a", 1000, 1001), ("b", 1100, 1105), ("c", 3000, 3000), ("x", 0, 0)]
        fb = {"a": 0, "b": 0, "c": 2, "x": 1}
        self.assertEqual(stats.freshness(landed, fb, commits), [0.7, 0.6, 1.0])
        done = {n: commits.get(fb[n], float("inf")) for n, _, _ in landed}
        self.assertEqual(stats.backlog_max(landed, done), 3)

    def test_idle_time_is_the_window_minus_the_union_of_tasks(self):
        spans = [(0, 100), (50, 150), (300, 400), (900, 1200)]
        self.assertAlmostEqual(stats.idle_seconds(spans, 0, 1000), 0.65)


def decoded(line):
    """ChangeIngest.decode's validity rule: every field present and typed."""
    try:
        r = json.loads(line)
    except ValueError:
        return None
    ok = (isinstance(r, dict) and isinstance(r.get("table"), str)
          and isinstance(r.get("event_id"), int) and isinstance(r.get("ts"), str)
          and isinstance(r.get("user_id"), int) and isinstance(r.get("event_type"), str)
          and isinstance(r.get("value"), (int, float)))
    return r if ok else None


class ExpectedStateOracle(unittest.TestCase):
    def test_matches_a_batch_max_by_latest_per_key(self):
        import duckdb
        g = gen.CdcLog(11, {"orders": 300, "customer": 40}, delete_p=0.1,
                       dup_p=0.05, late_p=0.2, malformed_p=0.01)
        lines = g.seed_lines("customer") + g.seed_lines("orders") + g.next_lines(5000)
        rows = [decoded(x) for x in lines]
        valid = [r for r in rows if r is not None]
        self.assertEqual(len(lines) - len(valid), g.malformed)
        self.assertEqual(sum(r["table"] == "lineitem" for r in valid), g.unrouted)
        self.assertGreater(g.malformed, 0)
        con = duckdb.connect()
        con.execute("CREATE TABLE log (tbl VARCHAR, event_id BIGINT, ts TIMESTAMP, "
                    "user_id BIGINT, event_type VARCHAR, value DOUBLE)")
        con.executemany("INSERT INTO log VALUES (?, ?, ?, ?, ?, ?)",
                        [(r["table"], r["event_id"], r["ts"], r["user_id"],
                          r["event_type"], float(r["value"])) for r in valid])
        latest = con.execute("""
            SELECT tbl, user_id, r.event_id, epoch(r.ts)::BIGINT, r.value
            FROM (SELECT tbl, user_id,
                         max_by({'event_id': event_id, 'ts': ts, 'value': value,
                                 'del': event_type = 'error'},
                                -- (ts, event_id) order as one number: event ids < 1e12
                                epoch(ts)::HUGEINT * 1000000000000 + event_id) AS r
                  FROM log WHERE tbl <> 'lineitem' GROUP BY tbl, user_id)
            WHERE NOT r.del""").fetchall()
        for t in ("orders", "customer"):
            want = {k: (e, ts, v) for tbl, k, e, ts, v in latest if tbl == t}
            self.assertEqual(g.expected(t), want)
            self.assertLess(len(want), g.keys[t])  # some deletes survived

    def test_same_seed_same_log(self):
        a = gen.CdcLog(5, {"orders": 100})
        b = gen.CdcLog(5, {"orders": 100})
        self.assertEqual(a.seed_lines("orders") + a.next_lines(3000),
                         b.seed_lines("orders") + b.next_lines(3000))
        self.assertEqual(a.expected("orders"), b.expected("orders"))
        c = gen.CdcLog(6, {"orders": 100})
        self.assertNotEqual(a.next_lines(10), c.next_lines(10))


class BatchCheck(unittest.TestCase):
    def test_stored_and_replayed_oracle_results_agree(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        import check
        with tempfile.TemporaryDirectory() as d:
            data, out = os.path.join(d, "data"), os.path.join(d, "out")
            os.makedirs(data)
            os.makedirs(os.path.join(out, "q"))
            pq.write_table(pa.table({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]}),
                           os.path.join(data, "t.parquet"))
            pq.write_table(pa.table({"k": [3, 1, 2], "w": [5.0, 1.0, 3.0]}),
                           os.path.join(out, "q", "part-0.parquet"))
            sql = "SELECT k, v * 2 AS w FROM t"
            stored = {"inputs_sha256": check.inputs_stamp(data), "queries": {
                "q": check.expectation(check.duckdb_over(data, d), sql)}}
            expected = os.path.join(d, "expected.json")

            def verdict(stored, sql):
                with open(expected, "w") as f:
                    json.dump(stored, f)
                with mock.patch.object(check, "EXPECTED", expected):
                    return check.batch_queries(data, out, {"q": sql})["q"]

            self.assertIsNone(verdict(stored, sql))
            stored["queries"]["q"]["digest"] = "0" * 16
            self.assertIn("hash mismatch", verdict(stored, sql))
            # other SQL, or other inputs: replayed, so a stale entry is ignored
            self.assertIsNone(verdict(stored, sql + " WHERE k > 0"))
            self.assertIn("rows", verdict(stored, sql + " WHERE k > 1"))
            self.assertIsNone(verdict(dict(stored, inputs_sha256="old"), sql))


class BenchmarkJson(unittest.TestCase):
    def test_declares_what_the_harness_prints(self):
        import run
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual(b["command"], ["python3", "perfbench/run.py"])
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]},
                         run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
