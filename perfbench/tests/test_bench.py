"""Tests of the benchmark's own logic (no JVM needed):

  python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def _read(path):
    with open(path, "rb") as f:
        return f.read()


class Percentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertEqual(stats.percentile(list(range(100)), 90), 89)
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertEqual(stats.percentile(list(range(1000)), 99), 989)
        self.assertIsNone(stats.percentile(list(range(999)), 99))

    def test_median_needs_nothing_beyond_when_asked(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50, 0), 2)

    def test_failures_sort_last(self):
        lat = [1.0] * 60 + [float("inf")] * 40
        self.assertEqual(stats.percentile(lat, 50, 0), 1.0)
        self.assertEqual(stats.percentile(lat, 70, 0), float("inf"))


class SelfTime(unittest.TestCase):
    def test_children_subtracted_once_and_clipped(self):
        spans = [[1, 0, "op", "queue", 0, 100],
                 [2, 1, "job-a", "spark", 10, 30],
                 [3, 1, "job-b", "spark", 20, 50],    # overlaps job-a
                 [4, 1, "job-c", "spark", 90, 120]]   # runs past its parent
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 40 - 10)
        self.assertEqual(st[2], 20)
        by_layer = stats.layer_self_s(spans)
        self.assertAlmostEqual(by_layer["queue"], 50e-6)
        self.assertAlmostEqual(by_layer["spark"], (20 + 30 + 30) * 1e-6)

    def test_grandchildren_belong_to_their_parent(self):
        spans = [[1, 0, "op", "client", 0, 100],
                 [2, 1, "stage", "llm", 0, 80],
                 [3, 2, "write", "sources", 10, 70]]
        st = stats.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (20, 20, 60))


class WindowAttribution(unittest.TestCase):
    def test_only_ops_inside_the_window_count(self):
        def op(jobs, run_ms):
            return {"jobs": jobs, "stages": jobs, "tasks": 4 * jobs, "run_ms": run_ms,
                    "gc_ms": 0, "scan_b": 0, "shuffle_w_b": 0, "shuffle_r_b": 0,
                    "spill_b": 0}
        raw = {"window_us": [1_000_000, 3_000_000], "cores": 2,
               "spans": [[1, 0, "set-up batch", "streaming", 0, 500_000],
                         [2, 0, "batch-7", "streaming", 1_100_000, 1_500_000],
                         [3, 0, "batch-8", "streaming", 1_600_000, 2_000_000],
                         [4, 0, "drain batch", "streaming", 3_100_000, 3_500_000],
                         # job spans: one of batch-7 (ends a little late on
                         # Spark's clock), one that carried no op
                         [5, 2, "job-1", "spark", 1_200_000, 1_501_000],
                         [6, 0, "job-2", "spark", 1_200_000, 1_400_000]],
               "task_skew": [[1, 9.0], [2, 1.5], [3, 2.5], [0, 7.0]],
               # op 0: jobs that carried no op (the harness's own checks)
               "spark_per_op": {"0": op(9, 90_000), "1": op(5, 50_000),
                                "2": op(1, 1_000), "3": op(3, 3_000), "4": op(7, 70_000)}}
        m = {k: v for k, (v, _) in stats.per_layer(raw, {}).items()}
        self.assertEqual(m["spark.jobs_per_op"], 2)
        self.assertAlmostEqual(m["spark.task_busy_s"], 4.0)
        self.assertAlmostEqual(m["spark.core_busy_ratio"], 4.0 / (2.0 * 2))
        self.assertEqual(m["spark.task_skew"], 2.0)
        self.assertAlmostEqual(m["self.spark_s"], 0.301)
        self.assertAlmostEqual(m["self.streaming_s"], 0.4 - 0.3 + 0.4)

    def test_no_op_in_the_window_reads_zero(self):
        raw = {"window_us": [0, 10], "cores": 1, "spans": [],
               "spark_per_op": {"0": {"jobs": 1, "stages": 1, "tasks": 1, "run_ms": 5,
                                      "gc_ms": 0, "scan_b": 0, "shuffle_w_b": 0,
                                      "shuffle_r_b": 0, "spill_b": 0}}}
        m = stats.per_layer(raw, {})
        self.assertEqual(m["spark.task_busy_s"][0], 0.0)


class Coverage(unittest.TestCase):
    def test_coverage_run_fills_only_missing_entries(self):
        wl = workloads.Requests("t", {}, clients=1)
        raw = {"ops": [["qa", "queue.pulse_ms", 0, 1000, 1, -1]], "window_us": [0, 10**6],
               "setup_s": [1.0], "rss_peak_mb": 1.0, "heap_live_mb": 1.0,
               "extra": {"coverage": [["qb", "queue.pick_ms", 0, 3000, 1],
                                      ["qc", "queue.moves_ms", 0, 5000, 0]]}}
        res = wl.reduce(raw, {}, {})
        self.assertEqual(res["layer"]["queue.pulse_ms"], 1.0)
        self.assertEqual(res["layer"]["queue.pick_ms"], 3.0)
        self.assertNotIn("queue.moves_ms", res["layer"])  # a failed run measures nothing
        self.assertEqual((res["attempted"], res["failed"]), (3, 1))
        # coverage runs stay out of the end-to-end figures
        self.assertEqual(res["end_to_end"]["throughput_per_s"][0], 1.0)


class Determinism(unittest.TestCase):
    def test_corpus_repeats_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            for sub, seed in (("a", 5), ("b", 5), ("c", 6)):
                gen.corpus(f"{d}/{sub}", seed, 80)
            for t in ("documents", "embeddings"):
                self.assertEqual(_read(f"{d}/a/{t}.parquet"), _read(f"{d}/b/{t}.parquet"), t)
                self.assertNotEqual(_read(f"{d}/a/{t}.parquet"), _read(f"{d}/c/{t}.parquet"), t)

    def test_request_mix_repeats_and_keeps_shares(self):
        w = {"pulse": 40, "pick": 10, "rare": 2}
        a, b = gen.request_mix(3, w, 520, ["p0", "p1", "p2"]), gen.request_mix(3, w, 520, ["p0", "p1", "p2"])
        self.assertEqual(a, b)
        self.assertNotEqual(a, gen.request_mix(4, w, 520, ["p0", "p1", "p2"]))
        # every window of the sequence holds the mix within one request
        for start in (0, 17, 100):
            win = [r["op"] for r in a[start:start + 52]]
            self.assertLessEqual(abs(win.count("pulse") - 40), 1)
            self.assertLessEqual(abs(win.count("pick") - 10), 1)

    def test_tool_events_repeat_and_stay_ordered_per_key(self):
        a = gen.tool_events(9, "paced", 200, 50.0)
        self.assertEqual(a, gen.tool_events(9, "paced", 200, 50.0))
        self.assertNotEqual(a, gen.tool_events(10, "paced", 200, 50.0))
        last = {}
        for due, deliver, key, *_ in a:
            # per key, creation and delivery order agree: no event of a
            # key overtakes another across deliveries
            if key in last:
                self.assertGreater(due, last[key][0])
                self.assertGreaterEqual(deliver, last[key][1])
            last[key] = (due, deliver)
        kinds = [r[6] for r in a]
        self.assertEqual(kinds.count("start"), 200)
        self.assertGreater(sum(1 for r in a if r[1] > r[0]), 0, "no late deliveries planted")


class WrongReference(unittest.TestCase):
    def _result(self, d, rows):
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(f"{d}/res", exist_ok=True)
        pq.write_table(pa.table({"n": [r[0] for r in rows], "k": [r[1] for r in rows]}),
                       f"{d}/res/part-0.parquet")
        return f"{d}/res"

    def test_oracle_mismatch_is_reported(self):
        with tempfile.TemporaryDirectory() as d:
            sql = {"q": "SELECT r_regionkey AS k, r_name AS n FROM region ORDER BY k"}
            good = [(n, k) for k, n in enumerate(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                                  "MIDDLE EAST"])]
            t = workloads.TABLES
            self.assertIsNone(oracle.check({"q": self._result(d, good)}, t, sql)["q"])
            bad = good[:4] + [("ATLANTIS", 4)]
            self.assertIn("ATLANTIS", oracle.check({"q": self._result(d, bad)}, t, sql)["q"])

    def test_mismatched_ops_count_as_failed(self):
        wl = workloads.Requests("t", {"qa": ("queue.pulse_ms", 1, "collect"),
                                      "qb": ("queue.pick_ms", 1, "collect")}, clients=1)
        ops = [["qa", "queue.pulse_ms", 0, 1000, 1, 1], ["qb", "queue.pick_ms", 0, 2000, 1, -1],
               ["qa", "queue.pulse_ms", 0, 1000, 1, -1], ["qb", "queue.pick_ms", 0, 2000, 1, 0]]
        raw = {"ops": ops, "window_us": [0, 10**6], "setup_s": [1.0], "rss_peak_mb": 1.0,
               "heap_live_mb": 1.0}
        ok = wl.reduce(raw, {"qa": None, "qb": None}, {})
        self.assertEqual((ok["attempted"], ok["failed"]), (4, 1))  # one sampled digest miss
        wrong = wl.reduce(raw, {"qa": "row 0: 1 != 2", "qb": None}, {})
        self.assertEqual(wrong["failed"], 3)  # every qa op now fails too
        self.assertEqual(wrong["end_to_end"]["throughput_per_s"][0], 1.0)


if __name__ == "__main__":
    unittest.main()
