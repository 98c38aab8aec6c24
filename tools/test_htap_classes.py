"""Tests of tools/htap_classes.py. Run: python3 -m unittest discover tools"""
import contextlib
import io
import json
import os
import sys
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

    def test_table_of_labels(self):
        cases = {
            "SELECT o_orderkey, o_custkey FROM ord WHERE o_orderkey = 5": "ord",
            "SELECT id, cust, amount, tag FROM t3 WHERE id = 7": "small",
            "INSERT INTO t3 SELECT o_orderkey + 1, o_custkey FROM ord "
            "WHERE o_orderkey BETWEEN 1 AND 50": "small",
            "INSERT INTO ord VALUES (1, 2, 'O')": "ord",
            "LOAD DATA INFILE '/x/load_0.csv' INTO TABLE t12 "
            "FIELDS TERMINATED BY ','": "small",
            "SELECT id, cust INTO OUTFILE '/x/out_9' FIELDS TERMINATED BY ',' "
            "FROM t4 WHERE id BETWEEN 1 AND 101": "small",
            "UPDATE t2 SET amount = amount + 7 WHERE id BETWEEN 1 AND 6": "small",
            "DELETE FROM ord WHERE o_orderkey BETWEEN 9 AND 19": "ord",
            "OPTIMIZE TABLE ord": "ord",
            "SELECT ROUGHLY COUNT(*) AS n FROM ord_packed WHERE o_totalprice "
            "BETWEEN 1.00 AND 2.00": "ord_packed",
            "CREATE TABLE t9 (id BIGINT NOT NULL) ENGINE=TIANMU": "small",
            "ord": "ord",
        }
        for label, want in cases.items():
            self.assertEqual(htap_classes.table_of(label), want, label)

    def test_split_by_table(self):
        result = {"traced_ops": [
            {"i": 1, "cls": "delete", "label": "DELETE FROM ord WHERE o_orderkey = 1"},
            {"i": 2, "cls": "delete", "label": "DELETE FROM t1 WHERE id = 1"},
            {"i": 3, "cls": "select_point", "label": "SELECT id FROM t1 WHERE id = 2"},
        ]}
        t = htap_classes.classes(SPANS, htap_classes.op_tables(result))
        self.assertEqual(sorted(t), ["delete@ord", "delete@small",
                                     "select_point@small"])
        self.assertEqual((t["delete@ord"]["n"], t["delete@ord"]["p50_ms"]),
                         (1, 100.0))
        self.assertEqual(t["delete@small"]["jobs"], 2)
        self.assertEqual(t["select_point@small"]["jobs"], 0)
        # an op the result does not label keeps its class, marked unknown
        t = htap_classes.classes(SPANS, {1: "ord"})
        self.assertIn("delete@?", t)

    def test_main_with_result(self):
        with tempfile.TemporaryDirectory() as d:
            spans = os.path.join(d, "spans.jsonl")
            with open(spans, "w") as f:
                f.write("\n".join(json.dumps(s) for s in SPANS) + "\n")
            res = os.path.join(d, "result.json")
            with open(res, "w") as f:
                json.dump({"traced_ops": [
                    {"i": 1, "label": "DELETE FROM ord WHERE o_orderkey = 1"},
                    {"i": 2, "label": "DELETE FROM t1 WHERE id = 1"},
                    {"i": 3, "label": "SELECT id FROM t1 WHERE id = 2"}]}, f)
            out = io.StringIO()
            argv = sys.argv
            sys.argv = ["htap_classes.py", "--json", "--result", res, spans]
            try:
                with contextlib.redirect_stdout(out):
                    htap_classes.main()
            finally:
                sys.argv = argv
        self.assertEqual(sorted(json.loads(out.getvalue())),
                         ["delete@ord", "delete@small", "select_point@small"])

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
