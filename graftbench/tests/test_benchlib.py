"""Unit tests of the benchmark's metric rules: the percentile rule, the
trade -> batch freshness join, span self times, the set-up median and the
end-to-end reductions.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import benchlib  # noqa: E402


class Percentile(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(benchlib.pct(xs, 50), 5)
        self.assertEqual(benchlib.pct(xs, 90), 9)
        self.assertEqual(benchlib.pct(xs, 100), 10)
        self.assertEqual(benchlib.pct(xs, 1), 1)

    def test_order_and_small_samples(self):
        self.assertEqual(benchlib.pct([30, 10, 20], 50), 20)
        self.assertEqual(benchlib.pct([30, 10, 20], 90), 30)
        self.assertEqual(benchlib.pct([7], 90), 7)

    def test_idle_layer_is_zero(self):
        self.assertEqual(benchlib.pct([], 50), 0.0)


class Freshness(unittest.TestCase):
    def test_join_uses_first_release_file_and_batch_commit(self):
        live = {
            "per_file": 2,
            # files 0, 1, 2 scheduled at 1000, 1200, 1400 ms
            "sched_ms": [1000.0, 1200.0, 1400.0],
            # batch 0 commits at 1500, batch 1 at 2100
            "visible_ms": {"0": 1500.0, "1": 2100.0},
            # trades 0-1 came in file 0, 2-3 in file 1, 4-5 in file 2;
            # trade 1 was re-delivered later, but it is visible in batch 0
            "sink": {"0": [0, 1, 2], "1": [3, 4, 5]},
        }
        got = sorted(benchlib.freshness_ms(live, warmup_ms=0))
        self.assertEqual(got, sorted([500.0, 500.0, 300.0,
                                      900.0, 700.0, 700.0]))

    def test_every_visible_trade_counts_once(self):
        live = {"per_file": 1, "sched_ms": [0.0, 10.0],
                "visible_ms": {"3": 50.0}, "sink": {"3": [0, 1]}}
        self.assertEqual(benchlib.freshness_ms(live, warmup_ms=0), [50.0, 40.0])

    def test_warmup_trades_are_left_out(self):
        live = {"per_file": 1, "sched_ms": [0.0, 10.0, 20.0],
                "visible_ms": {"0": 50.0}, "sink": {"0": [0, 1, 2]}}
        self.assertEqual(benchlib.freshness_ms(live, warmup_ms=10), [40.0, 30.0])


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end, layer="ops", name="x"):
        return {"id": i, "parent": parent, "start_us": start, "end_us": end,
                "layer": layer, "name": name}

    def test_children_are_subtracted_once(self):
        spans = [self.span("q", "", 0, 100, name="catalog.query"),
                 self.span("a", "q", 10, 40, layer="spark.job"),
                 self.span("b", "q", 30, 60, layer="spark.job")]  # overlap
        st = benchlib.self_times(spans)
        self.assertEqual(st["q"], 50)
        self.assertEqual(st["a"], 30)
        self.assertEqual(st["b"], 30)

    def test_plan_span_links_to_innermost_container(self):
        spans = [self.span("q", "", 0, 100, name="catalog.query"),
                 self.span("w", "q", 20, 90),
                 self.span("p", "", 25, 35, layer="spark.plan")]
        spans[0]["query"] = "q1"
        st = benchlib.self_times(spans)
        self.assertEqual(spans[2]["parent"], "w")
        self.assertEqual(st["w"], 60)
        spans[0]["pass"] = 0
        # the timer measured 125 µs: the spans account for 80% of it
        passes = [[{"name": "q1", "pass": 0, "wall_s": 125e-6}]]
        self.assertAlmostEqual(benchlib.layer_coverage(spans, passes), 0.8)


class Setup(unittest.TestCase):
    def test_median_of_repetitions(self):
        raw = {"setup": [{"session_s": 3, "warm_s": 1, "gen_s": 1},
                         {"session_s": 1, "warm_s": 1, "gen_s": 1},
                         {"session_s": 1, "warm_s": 2, "gen_s": 1}]}
        self.assertEqual(benchlib.setup_s(raw), 4)


class Catalog(unittest.TestCase):
    @staticmethod
    def q(name, family, wall, cpu, p):
        return {"name": name, "family": family, "wall_s": wall,
                "cpu_s": cpu, "pass": p}

    def passes(self):
        return [[self.q("r", "events", 0.5, 1.0, 0),
                 self.q("t", "dedup", 3.0, 6.0, 0)],
                [self.q("r", "events", 0.2, 0.4, 1),
                 self.q("t", "dedup", 2.0, 4.0, 1)],
                [self.q("r", "events", 0.25, 0.5, 2),
                 self.q("t", "dedup", 9.0, 9.0, 2)]]

    def test_per_query_median_over_passes(self):
        qs = {q["name"]: q for q in benchlib.query_medians(self.passes())}
        self.assertEqual(qs["r"]["wall_s"], 0.25)
        self.assertEqual(qs["t"]["wall_s"], 3.0)
        self.assertEqual(qs["t"]["family"], "dedup")
        self.assertNotIn("pass", qs["t"])

    def test_end_to_end_splits_the_regimes(self):
        raw = {"setup": [{"session_s": 1, "warm_s": 1, "gen_s": 0}],
               "passes": self.passes(), "read_ms": [5, 7, 6]}
        m = benchlib.end_to_end("catalog", raw)
        self.assertEqual(m["throughput_per_s"], 4.0)  # 1 relational / 0.25 s
        self.assertEqual(m["latency_ms"], 3000.0)     # training mean
        self.assertEqual(m["cpu_s"], 0.5 + 6.0)
        self.assertEqual(m["read_ms"], 6)


class LiveReplay(unittest.TestCase):
    def test_lines_over_median_pass_and_batch_time(self):
        live = {"per_file": 1, "sched_ms": [0.0, 6000.0],
                "visible_ms": {"0": 10.0, "1": 6010.0},
                "sink": {"0": [0], "1": [1]}}
        raw = {"setup": [{"session_s": 1, "warm_s": 1, "gen_s": 0}],
               "live": live, "cpu_s": 3.0, "read_ms": [1.0],
               "input_lines": 1000,
               "replay": [{"wall_s": 4.0, "batches": [[500, 900.0], [500, 300.0]]},
                          {"wall_s": 1.0, "batches": [[400, 700.0], [300, 500.0],
                                                      [300, 200.0]]}]}
        m = benchlib.end_to_end("ingest_live", raw)
        self.assertEqual(m["throughput_per_s"], 400.0)  # 1000 / 2.5 s
        self.assertEqual(m["latency_ms"], 300.0)  # first batches left out


if __name__ == "__main__":
    unittest.main()
