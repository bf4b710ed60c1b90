"""Tests of the benchmark's statistics and span helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import statistics
import unittest

import layers
import stats


class Stats(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        value, pct, n = stats.tail(xs)
        self.assertEqual(value, 30)  # 31..40 lie beyond it
        self.assertEqual(pct, 75.0)
        self.assertEqual(n, 40)
        self.assertEqual(stats.tail(list(range(100)))[:2], (89, 90.0))

    def test_tail_needs_more_than_ten_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertEqual(stats.tail(list(range(11)))[0], 0)

    def test_tail_ignores_input_order(self):
        self.assertEqual(stats.tail([5, 1, 4, 2, 3] * 5), stats.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_quartiles_and_spread(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        self.assertEqual(stats.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))
        q1, q2, q3 = stats.quartiles(xs)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.spread([2.0] * 10), 0.0)

    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(stats.covered([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(stats.covered([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(stats.covered([], 0, 10), 0)
        self.assertEqual(stats.covered([(3, 3), (4, 2)], 0, 10), 0)


def span(id, name, parent, start, end, jobs=(), **metrics):
    m = {k: 0 for k in ("tasks", "run_ms", "cpu_ns", "input_bytes", "input_rows",
                        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                        "task_gc_ms", "output_bytes")}
    m.update(metrics)
    return {"id": id, "name": name, "parent": parent, "op": 0, "start_ms": start,
            "end_ms": end, "gc_ms": 0, "jobs": [list(j) for j in jobs], "metrics": m}


class Spans(unittest.TestCase):
    def test_roll_up_self_and_driver_time(self):
        t = layers.Trace([
            span(0, "op:bm25.or", -1, 0, 1000),
            span(1, "graft.query:QueryEngine.query", 0, 0, 300, jobs=[(100, 200)], tasks=2),
            span(2, "graft.query:collect", 0, 300, 900, jobs=[(400, 800), (500, 700)],
                 tasks=4, cpu_ns=2e9),
        ])
        r = t.roll(t.spans[0])
        self.assertEqual(r["jobs"], 3)
        self.assertEqual(r["tasks"], 6)
        self.assertAlmostEqual(r["dur"], 1.0)
        self.assertAlmostEqual(r["job_s"], 0.5)    # 100..200 and 400..800
        self.assertAlmostEqual(r["driver_s"], 0.5)
        self.assertAlmostEqual(r["self_s"], 0.1)   # 900..1000 has no child
        self.assertAlmostEqual(r["cpu_s"], 2.0)
        self.assertEqual([s["id"] for s in t.ops("op:bm25.")], [0])


if __name__ == "__main__":
    unittest.main()
