"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The sabotage cases start the harness JVM, a few minutes in all.
"""

import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib as bl  # noqa: E402


def span(i, start, end, parent=None, kind="k", run="r"):
    return {"id": i, "name": f"s{i}", "kind": kind, "start": start, "end": end,
            "parent": parent, "run": run}


class PercentileRuleTest(unittest.TestCase):

    def test_highest_percentile_with_ten_samples_beyond(self):
        cases = {19: None, 20: 50, 39: 50, 40: 75, 99: 75, 100: 90, 199: 90, 200: 95,
                 1000: 99, 9999: 99, 10000: 99.9}
        for n, want in cases.items():
            got = bl.tail_percentile(list(range(n)))
            self.assertEqual(want, got and got[0], f"n={n}")

    def test_value_is_interpolated(self):
        p, v = bl.tail_percentile([float(x) for x in range(1, 101)])
        self.assertEqual(90, p)
        self.assertAlmostEqual(90.1, v)


class SpanArithmeticTest(unittest.TestCase):

    def tree(self):
        # root 0..100; a 10..40 with child a1 20..30; b 35..70 overlapping a;
        # c 90..120 sticks out of root and is clipped
        return [span(1, 0, 100), span(2, 10, 40, 1), span(3, 20, 30, 2),
                span(4, 35, 70, 1), span(5, 90, 120, 1)]

    def test_self_time_subtracts_union_of_children(self):
        st = bl.self_times(self.tree())
        self.assertEqual(100 - (60 + 10), st[1])  # children cover 10..70 and 90..100
        self.assertEqual(30 - 10, st[2])
        self.assertEqual(10, st[3])
        self.assertEqual(35, st[4])
        self.assertEqual(30, st[5])

    def test_self_times_sum_to_root_wall_when_children_nest(self):
        spans = [span(1, 0, 100), span(2, 0, 60, 1), span(3, 60, 100, 1), span(4, 10, 20, 2)]
        self.assertEqual(100, sum(bl.self_times(spans).values()))

    def test_union(self):
        self.assertEqual(0, bl.union_ms([]))
        self.assertEqual(30, bl.union_ms([(0, 10), (5, 20), (25, 35), (30, 30)]))

    def test_assign_parents_picks_innermost_container(self):
        spans = [span(1, 0, 100, kind="batch"), span(2, 10, 50, 1, kind="phase"),
                 span(3, 20, 30, kind="job"), span(4, 60, 70, kind="job"),
                 span(5, 200, 210, kind="job"), span(6, 20, 25, kind="job", run="other")]
        bl.assign_parents(spans)
        self.assertEqual(2, spans[2]["parent"])
        self.assertEqual(1, spans[3]["parent"])
        self.assertIsNone(spans[4]["parent"])
        self.assertIsNone(spans[5]["parent"])

    def test_self_time_by_kind(self):
        spans = [span(1, 0, 100, kind="batch"), span(2, 0, 40, 1, kind="phase"),
                 span(3, 40, 90, 1, kind="phase")]
        self.assertEqual({"batch": 10, "phase": 90}, bl.self_time_by_kind(spans))


class RecordTest(unittest.TestCase):

    def rec(self, nproc, work):
        return {"workload": "w", "provenance": {"nproc": nproc, "size": {"records": 10}},
                "end_to_end": {"work_s": {"value": work, "unit": "s"}}}

    def test_compare_refuses_different_nproc_or_size(self):
        with self.assertRaises(bl.IncomparableRecords):
            bl.compare(self.rec(4, 10.0), self.rec(32, 10.0))
        bigger = self.rec(4, 10.0)
        bigger["provenance"]["size"] = {"records": 20}
        with self.assertRaises(bl.IncomparableRecords):
            bl.compare(self.rec(4, 10.0), bigger)
        self.assertAlmostEqual(0.1, bl.compare(self.rec(4, 10.0), self.rec(4, 11.0))["work_s"])

    def test_spread(self):
        self.assertAlmostEqual(0.0, bl.spread([5.0] * 10))
        self.assertGreater(bl.spread([1.0, 2.0, 3.0, 4.0, 5.0]), 0.5)

    def test_cpu_shares(self):
        a = {"user": 0, "nice": 0, "system": 0, "idle": 0, "iowait": 0, "irq": 0, "softirq": 0, "steal": 0}
        b = dict(a, user=50, idle=40, steal=10)
        self.assertEqual({"steal": 0.1, "idle": 0.4}, bl.cpu_shares(a, b))


class ManifestTest(unittest.TestCase):

    def test_benchmark_json_matches_the_metrics_run_py_prints(self):
        import json
        import run
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            manifest = json.load(f)
        self.assertEqual(run.E2E_UNITS, {m["name"]: m["unit"] for m in manifest["end_to_end"]})
        self.assertEqual(run.PER_LAYER_UNITS, {m["name"]: m["unit"] for m in manifest["per_layer"]})
        self.assertLessEqual({w["name"] for w in manifest["workloads"]}, set(run.WORKLOADS))


class SabotageTest(unittest.TestCase):
    """Each broken variant must make the benchmark command fail."""

    def run_bench(self, workload, sabotage):
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
               "--seed", "7", "--seconds", "8", "--trace", "0"]
        if sabotage:
            cmd += ["--sabotage", sabotage]
        return subprocess.run(cmd, cwd=os.path.dirname(HERE), stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True, timeout=600)

    def assert_fails(self, workload, sabotage, needle):
        p = self.run_bench(workload, sabotage)
        self.assertEqual(1, p.returncode, p.stdout[-3000:])
        self.assertIn('"correct": false', p.stdout.splitlines()[-1])
        self.assertIn(needle, p.stdout)

    def test_sink_that_drops_a_batch(self):
        self.assert_fails("ingest_chunked", "drop_batch", "CHECK FAILED sink_exactly_once")

    def test_stream_that_fails_outside_the_injected_faults(self):
        self.assert_fails("ingest_chunked", "sink_error",
                          "FAILURE stream:1: java.lang.IllegalStateException: injected non-transient sink error")

    def test_catalog_entry_that_throws(self):
        self.assert_fails("catalog_batch", "throw_entry", "injected failure in entry")

    def test_wrong_fingerprint(self):
        self.assert_fails("catalog_batch", "bad_fingerprint", "CHECK FAILED fingerprint:")


if __name__ == "__main__":
    unittest.main()
