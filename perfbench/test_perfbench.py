"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_tail_omitted_with_fewer_than_ten_beyond(self):
        value, note = stats.tail(list(range(99)), 90)
        self.assertIsNone(value)
        self.assertIn("9 beyond", note)

    def test_tail_reported_with_ten_beyond(self):
        value, note = stats.tail(list(range(1, 101)), 90)
        self.assertEqual(value, 90)
        self.assertEqual(note, "100 samples")

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2, 10]), 2.5)


class Digest(unittest.TestCase):
    def test_row_order_is_ignored(self):
        rows = ["[1,a]", "[2,b]", "[3,c]"]
        self.assertEqual(stats.digest(rows), stats.digest(rows[::-1]))

    def test_contents_are_not(self):
        self.assertNotEqual(stats.digest(["[1,a]", "[2,b]"]),
                            stats.digest(["[1,a]", "[2,c]"]))
        self.assertNotEqual(stats.digest(["[1,a]"]),
                            stats.digest(["[1,a]", "[1,a]"]))


class Generators(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            self.assertEqual(gen.rough_plan(7), gen.rough_plan(7))
            self.assertEqual(gen.htap_plan(7, d, 3), gen.htap_plan(7, d, 3))

    def test_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            self.assertNotEqual(gen.rough_plan(7), gen.rough_plan(8))
            self.assertNotEqual(gen.htap_plan(7, d, 3)[0], gen.htap_plan(8, d, 3)[0])
            self.assertNotEqual(gen.htap_plan(7, d, 3)[2], gen.htap_plan(8, d, 3)[2])

    def test_longer_stream_extends_the_shorter(self):
        with tempfile.TemporaryDirectory() as d:
            short, long = gen.htap_plan(7, d, 2)[0], gen.htap_plan(7, d, 5)[0]
            self.assertTrue(long.startswith(short))
            self.assertEqual(len(long.splitlines()), 5 * gen.HTAP_ROUND_LEN)

    def test_stream_outlasts_a_traced_run(self):
        # warm-up round, untraced window and the two half windows, at the
        # headroom rate
        for seconds in (1, 16, 60):
            lines = (gen.htap_rounds(seconds) - 1) * gen.HTAP_ROUND_LEN
            self.assertGreaterEqual(lines, 2 * seconds * gen.HTAP_MAX_OPS_PER_S)

    def test_rounds_have_the_same_make_up(self):
        def classes(lines):
            return sorted(line.split("\t")[0] for line in lines)
        with tempfile.TemporaryDirectory() as d:
            plan, duck, _ = gen.htap_plan(5, d, 4)
            lines = plan.splitlines()
            self.assertEqual(len(lines), len(duck))
            n = gen.HTAP_ROUND_LEN
            want = sorted(["ddl"] + [c for c, _ in gen.HTAP_ROUND])
            for i in range(0, len(lines), n):
                self.assertEqual(classes(lines[i:i + n]), want)
                self.assertTrue(lines[i].startswith("ddl\t"))
        lines = gen.rough_plan(5).splitlines()
        n = gen.ROUGH_ROUND
        first = classes(lines[:n])
        for i in range(0, len(lines), n):
            self.assertEqual(classes(lines[i:i + n]), first)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, name, lo, hi):
        return {"id": i, "parent": parent, "op": 0, "name": name,
                "start_ns": lo, "end_ns": hi}

    def test_children_are_subtracted_once(self):
        spans = [self.span(1, -1, "op", 0, 100),
                 self.span(2, 1, "build", 10, 40),
                 self.span(3, 1, "job", 30, 60),     # overlaps build
                 self.span(4, 2, "job", 15, 20)]
        t = stats.self_times(spans)
        self.assertEqual(t["op"], (100 - 50, 1))   # union 10..60
        self.assertEqual(t["build"], (30 - 5, 1))
        self.assertEqual(t["job"], (30 + 5, 2))

    def test_job_under_collect_is_not_counted_twice(self):
        # a 100 ns operation holding a 90 ns collect that waits on a 70 ns
        # job: the job is parented to the collect, the span open when it
        # was submitted, so driver and job self times add up to the wall
        spans = [self.span(1, -1, "op", 0, 100),
                 self.span(2, 1, "exec.collect", 5, 95),
                 self.span(3, 2, "exec.job", 15, 85)]
        t = stats.self_times(spans)
        self.assertEqual(t["exec.job"], (70, 1))
        driver = sum(ns for name, (ns, _) in t.items() if name != "exec.job")
        self.assertEqual(driver, 30)
        self.assertEqual(driver + t["exec.job"][0], 100)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, -1, "op", 0, 10),
                 self.span(2, 1, "job", 5, 50)]
        self.assertEqual(stats.self_times(spans)["op"], (5, 1))


class Manifest(unittest.TestCase):
    def test_benchmark_json_names_what_run_reports(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
