"""Tests for the benchmark's own logic.

Run from the repository root: python3 -m unittest discover -s perfbench
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(xs, 1.0), 100)
        self.assertEqual(stats.percentile([7], 0.9), 7)
        self.assertEqual(stats.percentile([3, 1, 2], 0.5), 2)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 0.75), 4)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_ten_beyond_rule(self):
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertTrue(stats.supported(100, 0.9))
        self.assertFalse(stats.supported(99, 0.9))
        self.assertTrue(stats.supported(200, 0.95))
        self.assertFalse(stats.supported(199, 0.95))
        self.assertTrue(stats.supported(40, 0.75))
        self.assertFalse(stats.supported(39, 0.75))
        self.assertTrue(stats.supported(20, 0.5))
        self.assertFalse(stats.supported(19, 0.5))

    def test_spread_matches_quartile_definition(self):
        self.assertAlmostEqual(stats.spread([10, 10, 10, 10]), 0.0)
        # statistics.quantiles (exclusive) of 1..9: 2.5, 5, 7.5
        self.assertAlmostEqual(stats.spread(list(range(1, 10))), 1.0)


def batch(bid, start, trigger_ms, end_offset, start_offset=None):
    return {"batch_id": bid, "start_ms": start, "end_offset": end_offset,
            "start_offset": start_offset, "duration_ms": {"triggerExecution": trigger_ms}}


def chunk(offset, due, added=None):
    added = due if added is None else added
    return {"offset": offset, "due_ms": due, "add_start_ms": added, "add_end_ms": added + 1}


class LatencyMatchTest(unittest.TestCase):
    def test_chunk_committed_by_first_batch_reaching_its_offset(self):
        chunks = [chunk(5, 1000), chunk(6, 1100), chunk(7, 1200)]
        batches = [batch(10, 1010, 150, 5, 4), batch(11, 1160, 90, 7, 5)]
        self.assertEqual(stats.match_chunks(chunks, batches), [1160, 1250, 1250])
        lat, missing = stats.event_latencies(chunks, batches)
        self.assertEqual(lat, [160, 150, 50])
        self.assertEqual(missing, 0)

    def test_no_data_batches_and_order_are_handled(self):
        chunks = [chunk(2, 100), chunk(1, 0)]
        batches = [batch(3, 300, 10, 2), batch(1, 20, 30, 1), batch(2, 60, 5, None)]
        lat, missing = stats.event_latencies(chunks, batches)
        self.assertEqual(lat, [50, 210])
        self.assertEqual(missing, 0)

    def test_uncommitted_chunk_is_counted(self):
        lat, missing = stats.event_latencies([chunk(1, 0), chunk(2, 100)], [batch(1, 10, 10, 1)])
        self.assertEqual(lat, [20])
        self.assertEqual(missing, 1)

    def test_backlog(self):
        chunks = [chunk(1, 0), chunk(2, 100), chunk(3, 200)]
        batches = [batch(1, 50, 200, 2), batch(2, 260, 100, 3)]
        # at t=101 chunks 1 and 2 wait (commit at 250); at t=201 all three
        self.assertEqual(stats.backlog(chunks, batches), (3, 3))


def span(i, parent, name, start, end, trace="t"):
    return {"trace": trace, "id": i, "parent": parent, "name": name, "start": start, "end": end}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(1, -1, "op", 0, 100),
                 span(2, 1, "queries.build", 0, 30),
                 span(3, 1, "sink.collect", 30, 100),
                 span(4, 3, "scheduler.job", 40, 80),
                 span(5, 3, "scheduler.job", 60, 90)]  # overlaps job 4
        st = stats.self_times(spans)
        self.assertEqual(st[1], 0)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 70 - 50)
        self.assertEqual(st[4], 40)
        layers = stats.layer_self_ms(spans)
        self.assertEqual(layers, {"op": 0, "queries": 30, "sink": 20, "scheduler": 70})

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, -1, "streaming.trigger", 10, 20), span(2, 1, "streaming.add_batch", 15, 40)]
        self.assertEqual(stats.self_times(spans)[1], 5)


class GeneratorTest(unittest.TestCase):
    base = gen.base_table("sf0.01")
    n = base.num_rows

    def table(self, seed, replicas=2):
        return gen.events_table(self.base, replicas, seed)

    def test_same_seed_same_rows(self):
        self.assertTrue(self.table(3).equals(self.table(3)))

    def test_seed_permutes_ids_only(self):
        a, b = self.table(3).to_pydict(), self.table(4).to_pydict()
        self.assertNotEqual(a["event_id"], b["event_id"])
        self.assertNotEqual(a["user_id"], b["user_id"])
        for c in ("ts", "event_type", "value", "props"):
            self.assertEqual(a[c], b[c])
        n = self.n
        for r in range(2):
            part = slice(r * n, (r + 1) * n)
            self.assertEqual(sorted(a["event_id"][part]), list(range(r * n, (r + 1) * n)))
            self.assertEqual(len(set(a["user_id"][part])), len(set(b["user_id"][part])))

    def test_copied_rows_kept(self):
        t = self.table(5, replicas=1)
        self.assertEqual(t.num_rows, 10_000)
        for c in ("ts", "event_type", "value", "props"):
            self.assertTrue(t.column(c).equals(self.base.column(c)))
        # Relabelling keeps each user's rows together.
        pairs = set(zip(self.base.column("user_id").to_pylist(), t.column("user_id").to_pylist()))
        self.assertEqual(len(pairs), len({u for u, _ in pairs}))

    def test_replicas_stay_in_event_time_order(self):
        ts = self.table(1, replicas=3).column("ts").cast("int64").to_pylist()
        n = self.n
        self.assertEqual(ts, sorted(ts))
        self.assertEqual(ts[n:2 * n], [t + gen.SPAN_US for t in ts[:n]])

    def test_write_is_deterministic(self):
        with tempfile.TemporaryDirectory() as d:
            self.assertEqual(gen.write(os.path.join(d, "a"), "sf0.01", 1, 9), self.n)
            gen.write(os.path.join(d, "b"), "sf0.01", 1, 9)
            import pyarrow.parquet as pq
            for t in ("events", "part"):
                self.assertTrue(pq.read_table(f"{d}/a/{t}.parquet").equals(
                    pq.read_table(f"{d}/b/{t}.parquet")))


class ContractTest(unittest.TestCase):
    def test_benchmark_json_lists_what_the_runs_print(self):
        import json
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                               "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([m["name"] for m in b["workloads"]], list(workloads.WORKLOADS))
        self.assertEqual({m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]},
                         workloads.LAYERS)
        rec = {"setup_start_ms": 0, "jvm_start_ms": 0, "first_op_ms": 1000, "tick_ms": 50, "peak_rss_mb": 1.0,
               "chunks": [chunk(1, 0)], "batches": [batch(1, 10, 10, 1)],
               "saturation": [{"rows": 10, "start_ms": 0, "end_ms": 1000}],
               "check": {"missing": 0, "extra": 0, "wrong": 0, "duplicates": 0,
                         "emitted_windows": 1}}
        printed = workloads.summarize("stream_sliding", rec)["metrics"]
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         {k: v["unit"] for k, v in printed.items()})


class SummaryTest(unittest.TestCase):
    def test_stream_summary_counts_failures(self):
        chunks = [chunk(i, i * 100) for i in range(1, 31)]
        chunks[3]["add_start_ms"] += 150  # sent later than one tick
        batches = [batch(i, i * 100 + 10, 40, i) for i in range(1, 30)]  # chunk 30 never committed
        rec = {"setup_start_ms": 0, "jvm_start_ms": 0, "first_op_ms": 2000, "chunks": chunks, "batches": batches,
               "tick_ms": 100, "saturation": [{"rows": 10, "start_ms": 0, "end_ms": 1000}],
               "check": {"missing": 0, "extra": 0, "wrong": 0, "duplicates": 0,
                         "emitted_windows": 5}, "peak_rss_mb": 100.0}
        r = workloads.summarize("stream_sliding", rec)
        self.assertEqual((r["attempted"], r["failed"], r["correct"]), (31, 2, True))
        self.assertEqual(r["metrics"]["throughput_tps"]["value"], 10.0)
        self.assertEqual(r["metrics"]["setup_s"]["value"], 2.0)
        self.assertEqual(r["metrics"]["latency_ms_p50"]["value"], 50)
        rec["check"]["wrong"] = 1
        self.assertFalse(workloads.summarize("stream_sliding", rec)["correct"])


if __name__ == "__main__":
    unittest.main()
