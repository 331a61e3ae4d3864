"""Tests for the benchmark's own code: python3 -m unittest discover -s perfbench"""
import json
import tempfile
import unittest
from pathlib import Path

import pyarrow.parquet as pq

import metrics
import stats
import tape


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(sum(1 for x in xs if x > 90), 10)
        with self.assertRaises(ValueError):
            stats.percentile(xs[:99], 0.9)

    def test_every_reported_percentile_has_ten_beyond(self):
        for n in (40, 49, 50, 99, 100, 199, 200, 1000, 1001):
            xs = [float(i) for i in range(n)]
            got = stats.highest_percentile(xs)
            self.assertIsNotNone(got, n)
            q, v = got
            self.assertGreaterEqual(sum(1 for x in xs if x > v), stats.MIN_BEYOND, n)

    def test_highest_supported(self):
        self.assertEqual(stats.highest_percentile(list(range(50)))[0], 0.8)
        self.assertEqual(stats.highest_percentile(list(range(100)))[0], 0.9)
        self.assertEqual(stats.highest_percentile(list(range(1000)))[0], 0.99)
        self.assertIsNone(stats.highest_percentile(list(range(39))))

    def test_unsorted_input(self):
        xs = [float((i * 37) % 100) for i in range(100)]
        self.assertEqual(stats.percentile(xs, 0.9), 89.0)


class Median(unittest.TestCase):
    def test_odd_even_and_empty(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])


class CoreBusyShare(unittest.TestCase):
    def test_share_of_capacity(self):
        self.assertAlmostEqual(stats.core_busy_share(2000, 1000, 4), 0.5)
        self.assertAlmostEqual(stats.core_busy_share(4000, 1000, 4), 1.0)

    def test_rejects_empty_window(self):
        with self.assertRaises(ValueError):
            stats.core_busy_share(10, 0, 4)


class DriverGap(unittest.TestCase):
    def test_overlapping_and_clipped_jobs(self):
        jobs = [(10, 30), (20, 50), (60, 70), (65, 68), (90, 120), (-5, 2), (130, 140)]
        self.assertEqual(stats.covered_ms(jobs, 0, 100), 2 + 40 + 10 + 10)
        self.assertEqual(stats.driver_gap_ms(0, 100, jobs), 100 - 62)

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(stats.driver_gap_ms(5, 25, []), 20)

    def test_back_to_back_jobs_leave_no_gap(self):
        self.assertEqual(stats.driver_gap_ms(0, 30, [(0, 10), (10, 20), (20, 30)]), 0)


class Tape(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            tape.write_tape(Path(a), 7, 30)
            tape.write_tape(Path(b), 7, 30)
            for f in ("tape.jsonl", "manifest.json"):
                self.assertEqual((Path(a) / f).read_bytes(), (Path(b) / f).read_bytes())
            tape.write_tape(Path(b), 8, 30)
            self.assertNotEqual((Path(a) / "tape.jsonl").read_bytes(),
                                (Path(b) / "tape.jsonl").read_bytes())

    def test_manifest_describes_the_lines(self):
        lines, man = tape.trade_tape(3, 200)
        self.assertEqual(len(lines), man["primer_lines"] + 200 * man["chunk_lines"])
        parsed = []
        for line in lines:
            try:
                parsed.append(json.loads(line))
            except ValueError:
                parsed.append(None)
        self.assertEqual(parsed.count(None), man["malformed_json"])
        self.assertTrue(all(p is not None for p in parsed[:man["primer_lines"]]))
        bad = [p for p in parsed if p and not all(
            ch.isdigit() or ch == "." for ch in p["price"] + p["quantity"])]
        self.assertEqual(len(bad), man["bad_decimal"])
        self.assertEqual(len({p["symbol"] for p in parsed if p}), 50)
        late = set(man["late_lines"])
        self.assertTrue(late and man["malformed_json"] and man["bad_decimal"])
        minutes = [parsed[i]["trade_time"] // 60000 for i in late]
        self.assertEqual(len(set(minutes)), len(minutes))  # one late trade per minute
        horizon = tape.T0_MS - 3600000 + 60000
        for i, p in enumerate(parsed):
            if p is None:
                continue
            chunk = max(0, (i - man["primer_lines"]) // man["chunk_lines"] + 1)
            if i in late:
                self.assertLess(p["trade_time"], horizon)
            else:  # never further behind its chunk than the out-of-order bound
                self.assertGreaterEqual(p["trade_time"], tape.T0_MS + chunk * tape.CHUNK_SPAN_MS
                                        - tape.OUT_OF_ORDER_MS)
        ooo = sum(1 for i, p in enumerate(parsed) if p and i not in late and i >= man["primer_lines"]
                  and p["trade_time"] < tape.T0_MS + ((i - man["primer_lines"]) // man["chunk_lines"]
                                                      + 1) * tape.CHUNK_SPAN_MS)
        self.assertGreater(ooo, 0)

    def test_events_table_is_seeded(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            tape.write_events(Path(a), 5, 2000)
            tape.write_events(Path(b), 5, 2000)
            ta = pq.read_table(Path(a) / "events.parquet")
            self.assertTrue(ta.equals(pq.read_table(Path(b) / "events.parquet")))
            self.assertEqual(ta.num_rows, 2000)
            ts = ta.column("ts").to_pylist()
            self.assertEqual(ts, sorted(ts))
            self.assertEqual(len(set(ts)), len(ts))


class BatchLayers(unittest.TestCase):
    """Per-layer figures of one batch pass: two queries, one job started by
    construction, and action jobs that overlap."""

    @staticmethod
    def job(i, span, start, end, busy):
        return {"id": i, "span": span, "start": start, "end": end, "tasks": 1,
                "busy_ms": busy, "shuffle_bytes": 0, "input_bytes": 0,
                "spill_bytes": 0, "gc_ms": 0}

    def test_driver_gap_and_exec_from_overlapping_jobs(self):
        raw = {
            "cores": 4, "setup_s": [1.0], "attempted": 2, "failures": [],
            "passes": [{"pass": 0, "start": 0.0, "end": 1000.0}],
            "ops": [{"pass": 0, "name": "q1", "start": 0.0, "built": 100.0, "end": 600.0},
                    {"pass": 0, "name": "q2", "start": 600.0, "built": 650.0, "end": 1000.0}],
            "trace": {
                "jobs": [self.job(1, "p0/q1/build", 20, 80, 60),
                         self.job(2, "p0/q1/action", 150, 300, 150),
                         self.job(3, "p0/q1/action", 250, 400, 150),
                         self.job(4, "p0/q2/action", 700, 900, 200)],
                "plans": [{"start": 30.0, "plan_ms": 7}, {"start": 120.0, "plan_ms": 10},
                          {"start": 660.0, "plan_ms": 5}]},
        }
        got = metrics.per_layer(raw)
        # q1's action [100, 600] is covered 150..400; q2's [650, 1000] 700..900
        self.assertEqual(got["spark.exec_ms"], 250 + 200)
        self.assertEqual(got["spark.driver_gap_ms"], 250 + 150)
        self.assertEqual(got["spark.jobs"], 3)
        self.assertEqual(got["ops.build_jobs"], 1)
        self.assertEqual(got["ops.build_ms"], 100 + 50)
        self.assertEqual(got["spark.plan_ms"], 15)  # planning inside the actions only
        self.assertEqual(got["spark.tasks"], 4)
        self.assertAlmostEqual(got["spark.core_busy_share"], 560 / (1000 * 4))
        self.assertEqual(got["sink.rows"], 0)


class BatchLatency(unittest.TestCase):
    """Batch latency_p50_ms: the geometric mean over queries of each
    query's median latency, not the median of the pooled samples."""

    def test_geometric_mean_of_query_medians(self):
        ops = [{"pass": p, "name": n, "start": 0.0, "built": 1.0, "end": ms}
               for p, per in enumerate([{"a": 90, "b": 400}, {"a": 100, "b": 300},
                                        {"a": 120, "b": 410}])
               for n, ms in per.items()]
        ops.append({"pass": -2, "name": "a", "start": 0.0, "built": 1.0, "end": 9000.0})
        raw = {"setup_s": [5.0], "ops": ops,
               "passes": [{"pass": p, "start": 0.0, "end": 1000.0} for p in range(3)]}
        # medians: a 100, b 400; the pooled median would be 210
        self.assertAlmostEqual(metrics.end_to_end(raw)["latency_p50_ms"], 200.0)
        self.assertAlmostEqual(stats.geometric_mean([100, 400]), 200.0)
        with self.assertRaises(ValueError):
            stats.geometric_mean([])


class StreamMetrics(unittest.TestCase):
    """Chunk latency: from the chunk's due time to the end of the sink call
    of the micro-batch that read its offset."""

    RAW = {
        "cores": 4, "setup_s": [3.0, 1.0, 2.0], "attempted": 3, "failures": [],
        "chunks": [
            {"pass": 0, "offset": 1, "due": 1000.0, "added": 1001.0},
            {"pass": 0, "offset": 2, "due": 1200.0, "added": 1203.0},
            {"pass": 0, "offset": 3, "due": 1400.0, "added": 1400.5},
            {"pass": -1, "offset": 1, "due": 0.0, "added": 0.0},
        ],
        "progress": [
            {"pass": 0, "batch": 0, "input_rows": 5, "start_offset": -1, "end_offset": 0},
            {"pass": 0, "batch": 1, "input_rows": 8, "start_offset": 0, "end_offset": 2},
            {"pass": 0, "batch": 2, "input_rows": 0, "start_offset": 2, "end_offset": 2},
            {"pass": 0, "batch": 3, "input_rows": 4, "start_offset": 2, "end_offset": 3},
        ],
        "sink_calls": [
            {"pass": 0, "batch": 1, "start": 1250.0, "end": 1900.0},
            {"pass": 0, "batch": 2, "start": 1900.0, "end": 2000.0},
            {"pass": 0, "batch": 3, "start": 2000.0, "end": 2600.0},
        ],
    }

    def test_latency_and_pass(self):
        self.assertEqual(metrics.latency_samples(self.RAW), [900.0, 700.0, 1200.0])
        e2e = metrics.end_to_end(self.RAW)
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual(e2e["latency_p50_ms"], 900.0)
        self.assertAlmostEqual(e2e["pass_s"], 1.6)


if __name__ == "__main__":
    unittest.main()
