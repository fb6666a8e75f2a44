"""Tests for the benchmark's own arithmetic. Run from the checkout root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import unittest

import layers
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
MS = 1_000_000  # nanoseconds per millisecond


def span(i, name, start_ms, end_ms, parent=0, req=0):
    return {"id": i, "name": name, "start": start_ms * MS, "end": end_ms * MS,
            "parent": parent, "req": req}


class PercentileTest(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(sum(1 for x in xs if x > 90), 10)
        with self.assertRaises(ValueError):
            stats.percentile(xs[:99], 0.9)

    def test_median_and_p80_sample_floors(self):
        for q, floor in ((0.5, 20), (0.8, 50)):
            with self.assertRaises(ValueError):
                stats.percentile(range(floor - 1), q)
            stats.percentile(range(floor), q)
        self.assertEqual(stats.percentile(range(20), 0.5), 9)
        self.assertEqual(stats.percentile(range(1, 51), 0.8), 40)

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7] * 20
        self.assertEqual(stats.percentile(xs, 0.8), stats.percentile(sorted(xs), 0.8))

    def test_rejects_quantiles_outside_open_interval(self):
        for q in (0, 1, 1.5):
            with self.assertRaises(ValueError):
                stats.percentile(range(1000), q)


class DueTimeTest(unittest.TestCase):
    def test_latency_counts_the_wait_before_sending(self):
        # due at 100 ms, sent 40 ms late behind a stalled request, answered
        # 10 ms after sending: the user waited 50 ms
        s = {"due": 100 * MS, "sent": 140 * MS, "done": 150 * MS}
        self.assertEqual(stats.latency_ms(s), 50)
        self.assertEqual(stats.lateness_ms(s), 40)

    def test_on_time_request(self):
        s = {"due": 0, "sent": 0, "done": 7 * MS}
        self.assertEqual(stats.latency_ms(s), 7)
        self.assertEqual(stats.lateness_ms(s), 0)


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_are_counted_once(self):
        parent = span(1, "p", 0, 100)
        kids = [span(2, "a", 10, 30, 1), span(3, "b", 20, 50, 1), span(4, "c", 90, 120, 1)]
        # covered: [10, 50] and [90, 100] -> 50 ms; self time 50 ms
        self.assertEqual(stats.self_time(parent, kids), 50 * MS)

    def test_nested_and_disjoint_children(self):
        parent = span(1, "p", 0, 100)
        kids = [span(2, "a", 0, 100, 1), span(3, "b", 10, 20, 1)]
        self.assertEqual(stats.self_time(parent, kids), 0)
        self.assertEqual(stats.self_time(parent, []), 100 * MS)
        self.assertEqual(stats.self_time(parent, [span(5, "x", 200, 300, 1)]), 100 * MS)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([]), 0)


class AttachTest(unittest.TestCase):
    def test_job_goes_to_deepest_open_span_of_the_only_open_request(self):
        spans = [span(1, "client.ingest", 0, 100, req=1), span(2, "store.put", 10, 90, 1, 1),
                 span(3, "spark.job", 20, 40)]
        out, shared = stats.attach(spans)
        job = [s for s in out if s["id"] == 3][0]
        self.assertEqual((job["parent"], job["req"]), (2, 1))
        self.assertEqual(shared, set())

    def test_tagged_job_goes_to_its_own_request_despite_overlap(self):
        spans = [span(1, "client.probe.datalog", 0, 100, req=1), span(2, "datalog.build", 0, 50, 1, 1),
                 span(3, "client.query", 10, 90, req=2), dict(span(4, "spark.job", 20, 30), req=1)]
        out, shared = stats.attach(spans)
        job = [s for s in out if s["id"] == 4][0]
        self.assertEqual((job["parent"], job["req"]), (2, 1))
        self.assertEqual(shared, set())

    def test_push_requests_do_not_compete_for_jobs(self):
        spans = [span(1, "client.ingest", 0, 100, req=1), span(2, "client.push", 10, 30, req=2),
                 span(3, "spark.job", 20, 40), span(4, "spark.job.poll", 20, 40)]
        out, shared = stats.attach(spans)
        self.assertEqual([s["parent"] for s in out if s["id"] in (3, 4)], [1, 0])
        self.assertEqual(shared, set())

    def test_store_write_goes_to_the_open_ingest_and_a_read_to_the_open_query(self):
        spans = [span(1, "client.ingest", 0, 100, req=1), span(2, "client.query", 50, 150, req=2),
                 span(3, "spark.job.write", 60, 70), span(4, "spark.job", 60, 80)]
        out, shared = stats.attach(spans)
        self.assertEqual([s["parent"] for s in out if s["id"] in (3, 4)], [1, 2])
        self.assertEqual(shared, set())

    def test_job_with_two_open_requests_is_left_unattached(self):
        spans = [span(1, "client.query", 0, 100, req=1), span(2, "client.query", 50, 150, req=2),
                 span(3, "spark.job", 60, 70), span(4, "spark.job.stream", 10, 20)]
        out, shared = stats.attach(spans)
        self.assertTrue(all(s["parent"] == 0 for s in out if s["name"].startswith("spark.")))
        self.assertEqual(shared, {1, 2})


class NameTest(unittest.TestCase):
    def test_valid_names(self):
        for n in ("p50_ms", "setup_s", "gates.agg.wall_ms", "9lives", "a-b.c_d", "x" * 64):
            self.assertEqual(stats.check_name(n), n)

    def test_invalid_names(self):
        for n in ("", ".hidden", "_x", "has space", "p50/ms", "x" * 65, "é", None):
            with self.assertRaises(ValueError):
                stats.check_name(n)

    def test_benchmark_file_names_and_units(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        names = [m["name"] for key in ("end_to_end", "per_layer") for m in bench[key]]
        names += [w["name"] for w in bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            stats.check_name(n)
        for key in ("end_to_end", "per_layer"):
            for m in bench[key]:
                stats.check_unit(m["unit"])


class SwapGapTest(unittest.TestCase):
    def test_longest_silence_overlapping_the_swap(self):
        swap = {"sent": 100 * MS, "done": 200 * MS}
        arrivals = [x * MS for x in (0, 50, 90, 260, 270, 400)]
        self.assertEqual(layers.swap_gap_ms(swap, arrivals), 170)
        self.assertEqual(layers.swap_gap_ms(swap, []), 0.0)


class CpuShareTest(unittest.TestCase):
    def test_threads_and_tasks_add_up_and_the_rest_is_other(self):
        raw = {"counters": {"process_cpu_ms": 1000.0,
                            "cpu.thread.stream.7": 60.0, "cpu.thread.stream.9": 40.0,
                            "cpu.tasks.stream": 300.0,
                            "cpu.thread.request.3": 150.0, "cpu.tasks.request": 50.0,
                            "cpu.thread.caller.1": 100.0, "cpu.thread.other.2": 80.0}}
        shares = layers.cpu_shares(raw)
        self.assertAlmostEqual(shares["stream"], 0.4)
        self.assertAlmostEqual(shares["request"], 0.2)
        self.assertAlmostEqual(shares["background"], 0.0)
        self.assertAlmostEqual(shares["caller"], 0.1)
        # named "other" threads, JIT, GC and ended threads
        self.assertAlmostEqual(shares["other"], 0.3)
        self.assertAlmostEqual(sum(shares.values()), 1.0)

    def test_cpu_per_op_leaves_out_the_jit_and_takes_the_median_pass(self):
        def counters(process, jit):
            return {"process_cpu_ms": process, "cpu.thread.jit.n7": jit}
        gates = [["gate:g", 0, 0, 1, ""]] * 6
        serve = {"setup_s": [1.0], "samples": [["push", 0, 0, 1, ""]] * 4,
                 "counters": counters(1000.0, 600.0), "facts": {"heap_live_mb": 1.0}}
        self.assertEqual(layers.end_to_end(serve)["cpu_per_op_ms"], 100.0)
        # three passes of two gate calls each
        registry = {"setup_s": [1.0], "samples": gates, "counters": counters(0.0, 0.0),
                    "facts": {"heap_live_mb": 1.0, "pass_counters": [
                        counters(500.0, 100.0), counters(900.0, 100.0), counters(300.0, 100.0)]}}
        self.assertEqual(layers.end_to_end(registry)["cpu_per_op_ms"], 200.0)


if __name__ == "__main__":
    unittest.main()
