"""Tests of the benchmark itself: python3 -m unittest discover -s perfbench/tests"""

import filecmp
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


def _same_files(a, b):
    names = sorted(os.listdir(a))
    return names == sorted(os.listdir(b)) and all(
        filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False) for n in names)


class GeneratorTest(unittest.TestCase):
    def test_tables_byte_identical_for_a_seed(self):
        with tempfile.TemporaryDirectory() as t:
            for d in ("a", "b"):
                gen.write_tables(os.path.join(t, d), 0.001, 7)
            gen.write_tables(os.path.join(t, "c"), 0.001, 8)
            self.assertEqual(len(os.listdir(os.path.join(t, "a"))), 10)
            self.assertTrue(_same_files(os.path.join(t, "a"), os.path.join(t, "b")))
            self.assertFalse(filecmp.cmp(os.path.join(t, "a", "events.parquet"),
                                         os.path.join(t, "c", "events.parquet"), shallow=False))

    def test_stream_byte_identical_with_duplicates_and_orphans(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as t:
            ms = [gen.write_stream(os.path.join(t, d), 5, [1000, 1000, 1000], 1500)
                  for d in ("a", "b")]
            self.assertEqual(ms[0], ms[1])
            self.assertTrue(_same_files(os.path.join(t, "a"), os.path.join(t, "b")))
            rows = [pq.read_table(os.path.join(t, "a", m["file"])).to_pydict() for m in ms[0]]
            ids = [i for r in rows for i in r["event_id"]]
            self.assertEqual(len(ids) - len(set(ids)), sum(m["dups"] for m in ms[0]))
            self.assertEqual(ms[0][0]["dups"], 0)
            self.assertGreater(ms[0][1]["dups"], 0)
            users = [u for r in rows for u in r["user_id"]]
            self.assertTrue(any(u >= 1500 for u in users))


class StatsTest(unittest.TestCase):
    def test_quantile_and_tail(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertAlmostEqual(stats.quantile(xs, 0.9), 90.1)
        pct, value, n = stats.tail(xs)
        self.assertEqual((pct, n), (90.0, 100))
        self.assertAlmostEqual(value, 90.1)
        self.assertEqual(stats.tail([5, 9, 7]), (100.0, 9, 3))

    def test_source_log_reads_batches_and_compact_files(self):
        with tempfile.TemporaryDirectory() as t:
            d = os.path.join(t, "sources", "0")
            os.makedirs(d)
            def entry(f, b):
                return json.dumps({"path": f"file:///x/src/{f}", "timestamp": 1, "batchId": b})
            with open(os.path.join(d, "9.compact"), "w") as fh:
                fh.write("v1\n" + entry("a.parquet", 0) + "\n" + entry("b.parquet", 9) + "\n")
            with open(os.path.join(d, "10"), "w") as fh:
                fh.write("v1\n" + entry("c.parquet", 10) + "\n")
            self.assertEqual(stats.source_log(t), {"a.parquet": 0, "b.parquet": 9, "c.parquet": 10})

    def test_latency_from_due_time_to_batch_end(self):
        published = [{"file": "f1", "due_ms": 1000, "at_ms": 1003},
                     {"file": "f2", "due_ms": 5000, "at_ms": 5001},
                     {"file": "f3", "due_ms": 9000, "at_ms": 9000}]
        batches = [{"id": 4, "start_ms": 2000, "end_ms": 4100},
                   {"id": 5, "start_ms": 6000, "end_ms": 8300},
                   {"id": 6, "start_ms": 10000, "end_ms": 12050}]
        an = stats.steady_analysis(published, batches, {"f1": 4, "f2": 5, "f3": 6})
        self.assertEqual(an["latency_ms"], [3100, 3300, 3050])
        self.assertEqual(an["trigger_wait_ms"], [997, 999, 1000])
        self.assertEqual(an["backlog"], [1, 1, 1])
        self.assertEqual(an["missing"], [])
        self.assertEqual(stats.median(an["latency_ms"]), 3100)

    def test_missing_file_and_growing_backlog(self):
        published = [{"file": f"f{i}", "due_ms": 1000 * i, "at_ms": 1000 * i} for i in range(8)]
        # one batch per file, each ending after the next file arrives
        batches = [{"id": i, "start_ms": 1000 * i + 500 * i, "end_ms": 1000 * i + 500 * i + 1400}
                   for i in range(7)]
        an = stats.steady_analysis(published, batches, {f"f{i}": i for i in range(7)})
        self.assertEqual(an["missing"], ["f7"])
        self.assertTrue(stats.backlog_grows(an["backlog"]))
        self.assertFalse(stats.backlog_grows([1, 1, 1, 1, 2, 1, 1, 1]))


class DigestTest(unittest.TestCase):
    def test_digest_ignores_row_order_only(self):
        try:
            classpath = build.build()
        except build.BuildError as e:
            self.skipTest(str(e))
        opens = []
        for p in ("java.lang", "java.nio", "java.util", "sun.nio.ch", "java.lang.invoke"):
            opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        out = subprocess.run(
            ["java", "-Xmx1g", *opens,
             "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
             "-cp", classpath, "perfbench.DigestCheck"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
        a, shuffled, changed, duplicated = out.stdout.split()[-4:]
        self.assertEqual(a, shuffled)
        self.assertNotEqual(a, changed)
        self.assertNotEqual(a, duplicated)
        self.assertTrue(a.startswith("500:"))


if __name__ == "__main__":
    unittest.main()
