"""Tests of the benchmark's metric arithmetic (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import benchstats  # noqa: E402


def span(id, parent, start, end, kind="store", name="x", trace=1, **attrs):
    return {"id": id, "parent": parent, "trace": trace, "name": name, "kind": kind,
            "start": start, "end": end, "attrs": attrs}


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_above(self):
        pct, value, above = benchstats.tail(list(range(1, 101)))
        self.assertEqual((pct, value, above), (90, 90, 10))

    def test_every_sample_above_counts_once(self):
        xs = [1.0] * 30 + [2.0] * 10
        pct, value, above = benchstats.tail(xs)
        self.assertEqual((value, above), (1.0, 10))
        self.assertEqual(pct, 75)  # p75 is the last rank still holding 1.0

    def test_ties_at_the_top_push_the_tail_down(self):
        # twelve equal maxima: the percentile must sit below all of them
        xs = list(range(1, 21)) + [50] * 12
        pct, value, above = benchstats.tail(xs)
        self.assertEqual(value, 20)
        self.assertEqual(above, 12)

    def test_too_few_samples(self):
        pct, value, above = benchstats.tail([3.0, 1.0, 2.0])
        self.assertEqual((pct, value), (0, 1.0))
        self.assertLess(above, 10)

    def test_eleven_samples(self):
        pct, value, above = benchstats.tail(list(range(11)))
        self.assertEqual((value, above), (0, 10))
        self.assertGreater(pct, 0)


class SelfTimeTest(unittest.TestCase):
    def test_nested(self):
        spans = [span(1, 0, 0, 100, "op"), span(2, 1, 10, 60, "table"),
                 span(3, 2, 20, 50), span(4, 3, 25, 45, "job")]
        st = benchstats.self_times(spans)
        self.assertEqual(st, {1: 50, 2: 20, 3: 10, 4: 20})
        self.assertEqual(sum(st.values()), 100)  # self times account for the wall

    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100, "op"), span(2, 1, 10, 50, "job"),
                 span(3, 1, 30, 70, "job")]
        st = benchstats.self_times(spans)
        self.assertEqual(st[1], 40)  # 0-10 and 70-100
        self.assertEqual((st[2], st[3]), (40, 40))

    def test_children_outside_the_parent_are_clipped(self):
        # listener times have millisecond resolution and can spill over
        spans = [span(1, 0, 100, 200, "store"), span(2, 1, 90, 150, "job"),
                 span(3, 1, 190, 230, "job")]
        self.assertEqual(benchstats.self_times(spans)[1], 40)

    def test_union(self):
        self.assertEqual(benchstats.covered([(0, 10), (5, 15), (20, 25), (30, 30)]), 20)
        self.assertEqual(benchstats.covered([]), 0)


def result(ops, check_ok=True, traced=False, spans=(), plans=()):
    return {
        "setup_s": 7.0, "peak_rss_mb": 900.0, "heap_used_mb": 300.0, "cores": 4,
        "ops": [{"wall_s": w, "traced": traced and i % 2 == 0, "rows": {"orders": 10},
                 "error": err} for i, (w, err) in enumerate(ops)],
        "check": {"orders": {"only_source": 0 if check_ok else 1, "only_dest": 0}},
        "tables": {"orders": {"sourceRows": 100, "sourceBytes": 5000}},
        "spans": list(spans), "plans": list(plans),
    }


class EndToEndTest(unittest.TestCase):
    def test_metrics(self):
        m = benchstats.end_to_end(result([(1.0, []), (3.0, []), (2.0, [])]))
        self.assertEqual(m["setup_s"], (7.0, "s"))
        self.assertEqual(m["cycle_s.p50"], (2.0, "s"))
        self.assertEqual(m["delta_rows_per_s"], (5.0, "rows/s"))
        self.assertEqual(m["ok_ratio"], (1.0, "ratio"))

    def test_failed_check_fails_the_last_cycle(self):
        r = result([(1.0, []), (1.0, ["orders: rows 3 != 4"]), (1.0, [])], check_ok=False)
        self.assertEqual(benchstats.failed_ops(r), 2)

    def test_names_match_benchmark_json(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            bench = json.load(f)
        m = benchstats.end_to_end(result([(1.0, [])]))
        self.assertEqual(sorted(m), sorted(x["name"] for x in bench["end_to_end"]))
        self.assertEqual({k: u for k, (_, u) in m.items()},
                         {x["name"]: x["unit"] for x in bench["end_to_end"]})
        self.assertEqual(benchstats.LAYER_UNITS,
                         {x["name"]: x["unit"] for x in bench["per_layer"]})


class PerLayerTest(unittest.TestCase):
    def test_one_traced_cycle(self):
        spans = [
            span(1, 0, 0, 1000, "op", "Runner.runAll"),
            span(2, 1, 100, 900, "table", "SyncJob.run:orders", rows=10),
            span(3, 2, 150, 250, "store", "TableStore.watermark"),
            span(4, 2, 300, 800, "store", "TableStore.write"),
            span(-1, 4, 400, 700, "job", "spark.job", tasks=4, executor_run_s=0.002,
                 output_rows=110, output_bytes=5500, stages=2),
        ]
        r = result([(1.0, []), (0.5, [])], traced=True, spans=spans,
                   plans=[{"start_us": 410, "planning_s": 0.01}, {"start_us": 5000, "planning_s": 1}])
        m = benchstats.per_layer(r)
        self.assertEqual(m["spark.jobs"], 1)
        self.assertEqual(m["spark.tasks"], 4)
        self.assertEqual(m["sync.SyncJob.rows.orders"], 10)
        self.assertAlmostEqual(m["sync.TableStore.write_s"], 0.0005)
        self.assertAlmostEqual(m["sync.rows_written_per_delta_row"], 11.0)
        self.assertAlmostEqual(m["sync.bytes_written_per_delta_byte"], 11.0)
        self.assertEqual(m["sql.actions"], 1)
        self.assertAlmostEqual(m["self.runner_s"], 0.0002)
        self.assertAlmostEqual(m["self.syncjob_s"], 0.0002)
        self.assertAlmostEqual(m["self.store_s"], 0.0003)
        self.assertAlmostEqual(m["self.spark_job_s"], 0.0003)
        self.assertAlmostEqual(m["trace.self_coverage"], 1.0)
        self.assertAlmostEqual(m["spark.busy_ratio"], 0.002 / (0.001 * 4))
        self.assertAlmostEqual(m["trace.overhead_ratio"], 1.0)
        self.assertEqual(m["jvm.heap_used_mb"], 300.0)


if __name__ == "__main__":
    unittest.main()
