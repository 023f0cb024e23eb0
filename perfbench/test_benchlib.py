"""Unit tests for the benchmark's metric math.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import benchlib


class QuantileTest(unittest.TestCase):
    def test_quartile_spread_matches_statistics_quantiles(self):
        xs = [10.0, 11.0, 9.0, 12.0, 10.5, 10.2, 9.8, 30.0, 10.1, 9.9]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(benchlib.quartile_spread(xs),
                               (q3 - q1) / statistics.median(xs))

    def test_quartile_spread_of_constant_is_zero(self):
        self.assertEqual(benchlib.quartile_spread([2.0] * 10), 0.0)

    def test_nearest_rank_percentile(self):
        xs = list(range(1, 101))          # 1..100
        self.assertEqual(benchlib.percentile(xs, 50), 50)
        self.assertEqual(benchlib.percentile(xs, 90), 90)
        self.assertEqual(benchlib.percentile(xs, 100), 100)
        self.assertEqual(benchlib.percentile([7.0], 50), 7.0)
        self.assertEqual(benchlib.percentile([3, 1, 2], 50), 2)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(benchlib.tail_percentile(100), 90)
        self.assertEqual(benchlib.tail_percentile(20), 50)
        self.assertEqual(benchlib.tail_percentile(200), 95)
        self.assertIsNone(benchlib.tail_percentile(10))
        for n in (11, 37, 64, 250):
            p = benchlib.tail_percentile(n)
            rank = -(-p * n // 100)
            self.assertGreaterEqual(n - rank, 10)
            next_rank = -(-(p + 1) * n // 100)
            self.assertTrue(p == 99 or n - next_rank < 10)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(benchlib.self_time((0, 10), []), 10)

    def test_disjoint_children(self):
        self.assertEqual(benchlib.self_time((0, 10), [(1, 3), (5, 6)]), 7)

    def test_overlapping_children_count_once(self):
        self.assertEqual(benchlib.self_time((0, 10), [(1, 5), (4, 8), (2, 3)]), 3)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(benchlib.self_time((0, 10), [(-5, 2), (9, 20)]), 7)
        self.assertEqual(benchlib.self_time((0, 10), [(11, 12), (-3, -1)]), 10)

    def test_fully_covered(self):
        self.assertEqual(benchlib.self_time((2, 4), [(0, 10)]), 0)

    def test_touching_children(self):
        self.assertEqual(benchlib.covered((0, 10), [(0, 5), (5, 10)]), 10)


def _result():
    """A two-op traced pass and one untraced pass, hand-built."""
    def op(name, start, build_s, plan_s, exec_s, kind="traced", pass_no=3):
        return {"pass": pass_no, "kind": kind, "op": name,
                "span": f"1/{pass_no}/{name}", "start_ms": start,
                "end_ms": start + (build_s + plan_s + exec_s) * 1e3 + 10,
                "build_s": build_s, "plan_s": plan_s, "exec_s": exec_s,
                "error": "", "phases": {"analysis": 0.01, "optimization": 0.02,
                                        "planning": 0.03},
                "shape": {"exchanges": 2, "windows": 1, "broadcasts": 0}}
    a = op("a", 0.0, 1.0, 0.5, 2.0)
    b = op("b", 4000.0, 0.5, 0.5, 1.0)
    jobs = [
        {"id": 0, "span": "1/3/a", "phase": "build", "submit_ms": 100, "end_ms": 300,
         "stages": [0], "stage_names": ["parquet at Tables.scala:17"]},
        {"id": 1, "span": "1/3/a", "phase": "build", "submit_ms": 400, "end_ms": 600,
         "stages": [1], "stage_names": ["collect at Loop.scala:9"]},
        {"id": 2, "span": "1/3/a", "phase": "exec", "submit_ms": 1600, "end_ms": 3000,
         "stages": [2, 3], "stage_names": ["save", "save"]},
        {"id": 3, "span": "1/3/b", "phase": "exec", "submit_ms": 5100, "end_ms": 5900,
         "stages": [3, 4], "stage_names": ["save", "save"]},
    ]

    def stage(i, tasks, run_ms):
        return {"id": i, "attempt": 0, "name": "s", "submit_ms": 0, "end_ms": 1,
                "tasks": tasks, "run_ms": run_ms, "cpu_ns": run_ms * 1e6,
                "gc_ms": 1, "fetch_wait_ms": 0, "shuffle_read_b": 1048576,
                "shuffle_write_b": 0, "spill_b": 0, "peak_mem_b": 2 * 1048576}
    return {
        "session_build_s": 1.5,
        "ops": [a, b, op("a", 9000.0, 1.0, 0.0, 2.0, "untraced", 4)],
        "passes": [{"pass": 2, "kind": "untraced", "start_ms": -7000, "end_ms": -1000},
                   {"pass": 3, "kind": "traced", "start_ms": 0, "end_ms": 6020},
                   {"pass": 4, "kind": "untraced", "start_ms": 9000, "end_ms": 12010}],
        "jobs": jobs,
        "stages": [stage(0, 1, 100), stage(1, 1, 100), stage(2, 4, 2000),
                   stage(3, 4, 2000), stage(4, 2, 400)],
        "stream_queries": [4100.0],
        "stream_batches": [{"ts_ms": 4200.0, "input_rows": 500, "trigger_ms": 300,
                            "add_batch_ms": 200, "query_planning_ms": 10,
                            "wal_commit_ms": 5, "state_rows": 7,
                            "state_commit_ms": 3, "state_mem_b": 1048576}],
    }


class EndToEndTest(unittest.TestCase):
    def test_pass_and_op_metrics(self):
        def op(pass_no, kind, start, wall, name=None):
            return {"pass": pass_no, "kind": kind, "start_ms": start,
                    "end_ms": start + wall * 1e3, "op": name}
        res = {
            "passes": [op(0, "cold", 0, 9.0), op(1, "warmup", 9000, 8.0),
                       op(2, "timed", 17000, 4.0), op(3, "timed", 21000, 5.0),
                       op(4, "timed", 26000, 4.5)],
            "ops": [op(2 + i // 4, "timed", 17000 + i * 1000, 0.1 * (i + 1), f"o{i % 4}")
                    for i in range(12)] + [op(0, "cold", 0, 99.0, "o0")],
            "peak_rss_mb": 2048.0, "setup_s": 11.5,
        }
        m, info = benchlib.end_to_end(res)
        self.assertEqual(m["setup_s"], 11.5)
        self.assertAlmostEqual(m["cold_pass_s"], 9.0)
        self.assertAlmostEqual(m["warm_pass_s"], 4.5)
        # per-op medians 0.5, 0.6, 0.7, 0.8 over the three timed passes
        self.assertAlmostEqual(m["op_p50_s"], 0.65)
        self.assertEqual(m["peak_rss_mb"], 2048.0)
        self.assertEqual(info["op_samples"], 12)
        self.assertEqual(info["timed_passes"], 3)
        self.assertIsNone(info["op_tail_s"])

    def test_extra_passes_do_not_count(self):
        def p(pass_no, kind, start, wall, name=None):
            return {"pass": pass_no, "kind": kind, "start_ms": start,
                    "end_ms": start + wall * 1e3, "op": name}
        res = {"passes": [p(0, "cold", 0, 9.0), p(1, "timed", 9000, 4.0),
                          p(2, "extra", 13000, 1.0), p(3, "extra", 14000, 1.0)],
               "ops": [p(1, "timed", 9000, 4.0, "o"), p(2, "extra", 13000, 1.0, "o"),
                       p(3, "extra", 14000, 1.0, "o")],
               "peak_rss_mb": 1.0, "setup_s": 1.0}
        m, info = benchlib.end_to_end(res)
        self.assertAlmostEqual(m["warm_pass_s"], 4.0)
        self.assertAlmostEqual(m["op_p50_s"], 4.0)
        self.assertEqual(info["extra_passes"], 2)


class TraceOverheadTest(unittest.TestCase):
    @staticmethod
    def passes(kinds, walls):
        out, t = [], 0.0
        for i, (k, w) in enumerate(zip(kinds, walls)):
            out.append({"pass": i, "kind": k, "start_ms": t, "end_ms": t + w * 1e3})
            t += w * 1e3
        return out

    def test_falling_pass_times_cancel(self):
        # every pass 0.2 s faster than the one before; tracing adds 0.1 s
        kinds = ["untraced", "traced", "untraced", "traced", "untraced"]
        walls = [5.0, 4.8 + 0.1, 4.6, 4.4 + 0.1, 4.2]
        self.assertAlmostEqual(benchlib.trace_overhead(self.passes(kinds, walls)),
                               statistics.median([4.9 / 4.8, 4.5 / 4.4]))

    def test_traced_pass_without_two_neighbours_is_skipped(self):
        kinds = ["cold", "traced", "untraced", "traced", "untraced"]
        walls = [9.0, 1.0, 2.0, 3.0, 2.0]
        self.assertAlmostEqual(benchlib.trace_overhead(self.passes(kinds, walls)), 1.5)


class PerLayerTest(unittest.TestCase):
    def test_layer_counters(self):
        m = benchlib.per_layer(_result())
        self.assertEqual(m["tables.schema_jobs"], 1)
        self.assertAlmostEqual(m["tables.schema_s"], 0.2)
        self.assertEqual(m["build.jobs"], 2)
        self.assertEqual(m["build.loop_jobs"], 1)
        self.assertAlmostEqual(m["build.s"], 1.5)
        # op a's build span is [0, 1000] with jobs covering 400 ms; op b's
        # build span has no jobs
        self.assertAlmostEqual(m["build.self_s"], 0.6 + 0.5)
        # stage 3 is listed by jobs 2 and 3 but runs once, in job 2
        self.assertEqual(m["exec.jobs"], 2)
        self.assertEqual(m["exec.stages"], 3)
        self.assertEqual(m["exec.tasks"], 10)
        self.assertAlmostEqual(m["exec.task_run_s"], 4.4)
        self.assertAlmostEqual(m["exec.s"], 3.0)
        self.assertAlmostEqual(m["exec.core_util"], 4.4 / (3.0 * 4))
        self.assertAlmostEqual(m["exec.sched_gap_s"], 3.0 - 4.4 / 4)
        self.assertAlmostEqual(m["exec.peak_exec_mem_mb"], 2.0)
        self.assertAlmostEqual(m["plan.exchanges"], 4)
        self.assertAlmostEqual(m["plan.planning_s"], 0.06)
        # each op span has 10 ms after its exec phase
        self.assertAlmostEqual(m["op.self_s"], 0.02)
        self.assertAlmostEqual(m["trace.overhead"], 6.02 / ((6.0 + 3.01) / 2))

    def test_stream_counters_attach_to_the_op_that_ran_them(self):
        m = benchlib.per_layer(_result())
        self.assertEqual(m["stream.queries"], 1)
        self.assertEqual(m["stream.batches"], 1)
        self.assertEqual(m["stream.input_rows"], 500)
        self.assertAlmostEqual(m["stream.rows_per_s"], 500 / 2.01)
        self.assertAlmostEqual(m["stream.state_mem_mb"], 1.0)

    def test_spans_carry_self_time(self):
        sp = {(s["id"], s["name"]): s for s in benchlib.spans(_result())}
        self.assertEqual(len([s for s in sp.values() if s["name"].startswith("op:")]), 2)
        self.assertAlmostEqual(sp[("1/3/a", "op:a")]["self_ms"], 10)
        self.assertAlmostEqual(sp[("1/3/a", "build")]["self_ms"], 600)
        # the fixture's stages run at [0, 1] ms, outside job 2's span, so
        # clipping leaves the whole job as self time
        self.assertAlmostEqual(sp[("1/3/a", "job:2")]["self_ms"], 1400)
        self.assertEqual(sp[("1/3/b", "job:3")]["parent"], "exec")
        self.assertEqual(sp[("1/3/a", "stage:2.0")]["parent"], "job:2")

    def test_op_counts_and_rises(self):
        counts = benchlib.op_counts(_result())
        self.assertEqual(counts, {"a": {"jobs": [3], "stages": [4]},
                                  "b": {"jobs": [1], "stages": [1]}})
        committed = {"a": {"jobs": [3, 3], "stages": [4, 4]},
                     "b": {"jobs": [1, 1], "stages": [0, 0]}}
        self.assertEqual(benchlib.counts_above(counts, committed),
                         [("b", "stages", 1, 0)])


if __name__ == "__main__":
    unittest.main()
