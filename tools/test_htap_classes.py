"""Tests of tools/htap_classes.py. Run: python3 -m unittest discover tools"""
import json
import os
import tempfile
import unittest

import htap_classes


def span(id, parent, op, name, start, end):
    return {"id": id, "parent": parent, "op": op, "name": name,
            "start_ns": start * 1_000_000, "end_ns": end * 1_000_000}


# two DELETEs and one point lookup; times in ms
SPANS = [
    # op 1: delete, 100 ms, one 60 ms job under statements.run
    span(1, -1, 1, "op.delete", 0, 100),
    span(2, 1, 1, "statements.run", 10, 90),
    span(3, 2, 1, "exec.job", 20, 80),
    # op 2: delete, 300 ms, two jobs of 50 and 100 ms
    span(4, -1, 2, "op.delete", 200, 500),
    span(5, 4, 2, "statements.run", 200, 480),
    span(6, 5, 2, "exec.job", 250, 300),
    span(7, 5, 2, "exec.job", 350, 450),
    # op 3: a lookup with no job
    span(8, -1, 3, "op.select_point", 600, 620),
    span(9, 8, 3, "exec.collect", 605, 615),
    # a span outside any operation is ignored
    span(10, -1, -1, "statements.dialect", 700, 710),
]


# rough_scan's classes: a hybrid count with one job, a rough aggregate
# answered on the driver with none
ROUGH_SPANS = [
    span(1, -1, 1, "op.selective", 0, 80),
    span(2, 1, 1, "statssidecar.count_between", 5, 75),
    span(3, 2, 1, "exec.job", 30, 70),
    span(4, -1, 2, "op.selective", 100, 200),
    span(5, 4, 2, "statssidecar.count_between", 100, 200),
    span(6, 5, 2, "exec.job", 120, 180),
    span(7, -1, 3, "op.rough_agg", 300, 320),
    span(8, 7, 3, "statssidecar.rough_agg", 302, 318),
]


class ClassesTest(unittest.TestCase):
    def test_per_class_numbers(self):
        t = htap_classes.classes(SPANS)
        self.assertEqual(sorted(t), ["delete", "select_point"])
        d = t["delete"]
        self.assertEqual(d["n"], 2)
        self.assertEqual(d["p50_ms"], 200.0)
        self.assertEqual((d["jobs"], d["jobs_min"], d["jobs_max"]), (1.5, 1, 2))
        self.assertAlmostEqual(d["job_ms"], (60 + 150) / 2)
        # self time of the other spans: latency minus job time
        self.assertAlmostEqual(d["driver_ms"], (40 + 150) / 2)
        p = t["select_point"]
        self.assertEqual((p["n"], p["jobs"], p["job_ms"]), (1, 0, 0))
        self.assertAlmostEqual(p["driver_ms"], 20.0)

    def test_rough_scan_classes(self):
        t = htap_classes.classes(ROUGH_SPANS)
        self.assertEqual(sorted(t), ["rough_agg", "selective"])
        s = t["selective"]
        self.assertEqual((s["n"], s["p50_ms"]), (2, 90.0))
        self.assertEqual((s["jobs"], s["jobs_min"], s["jobs_max"]), (1, 1, 1))
        self.assertAlmostEqual(s["job_ms"], (40 + 60) / 2)
        self.assertAlmostEqual(s["driver_ms"], (40 + 40) / 2)
        r = t["rough_agg"]
        self.assertEqual((r["n"], r["jobs"], r["jobs_max"], r["job_ms"]),
                         (1, 0, 0, 0))
        self.assertAlmostEqual(r["driver_ms"], 20.0)

    def test_reads_jsonl_and_renders(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "spans.jsonl")
            with open(path, "w") as f:
                f.write("\n".join(json.dumps(s) for s in SPANS) + "\n")
            out = htap_classes.render(htap_classes.classes(
                htap_classes.read_spans(path)))
        lines = out.splitlines()
        self.assertEqual(len(lines), 3)
        self.assertTrue(lines[1].startswith("delete"))
        self.assertIn("1-2", lines[1])


if __name__ == "__main__":
    unittest.main()
