#!/usr/bin/env python3
"""Per operation class of a traced perfbench run: count, median latency,
Spark jobs per operation, and where the time went.

    python3 tools/htap_classes.py .bench_build/runs/htap_statements/out/spans.jsonl
    python3 tools/htap_classes.py .bench_build/runs/rough_scan/out/spans.jsonl
    python3 tools/htap_classes.py --json spans.jsonl
    python3 tools/htap_classes.py --result .bench_build/runs/htap_statements/out/result.json \
        .bench_build/runs/htap_statements/out/spans.jsonl

A traced run of any perfbench workload (`perfbench/run.py --trace 1`)
writes one span per line; each operation is an `op.<class>` span
(`op.delete`, `op.select_point`, … for htap_statements; `op.selective`,
`op.rough_agg`, `op.full_scan`, `op.gate` for rough_scan), and every span
it contains, Spark jobs (`exec.job`) included, carries the operation's
id. For each class this
prints: `n` operations, `p50_ms` (median operation latency), `jobs` (mean
Spark jobs per operation, with the fewest and most), `job_ms` (mean self
time of those jobs) and `driver_ms` (mean self time of every other span:
time on the driver outside jobs). Per operation, `job_ms + driver_ms` is
its latency.

With `--result` (the run's `result.json`, which labels each traced
operation with its statement), each htap class is split by the table its
statement names: `select_point@ord`, `select_point@small` (the table the
round created), `select_roughly@ord_packed`, and so on.
"""
import argparse
import json
import os
import re
import statistics
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "perfbench"))
import stats  # noqa: E402  (perfbench/stats.py: span self time)


def read_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


# the table a statement writes or reads: its DML, LOAD or DDL target, else
# the first table it selects from (an OUTFILE's INTO is not a table)
TARGET = re.compile(r"\b(?:INTO\s+TABLE|INSERT\s+INTO|UPDATE|DELETE\s+FROM|"
                    r"OPTIMIZE\s+TABLE|CREATE\s+TABLE)\s+(\w+)", re.I)
SOURCE = re.compile(r"\bFROM\s+(\w+)", re.I)
ROUND_TABLE = re.compile(r"t\d+$")


def table_of(label):
    """The table an htap operation's label names: `ord`, `ord_packed`, or
    `small` for a table a round created (`t<k>`). A flush is labelled with
    its table alone."""
    m = TARGET.search(label) or SOURCE.search(label)
    name = m.group(1) if m else label.strip()
    return "small" if ROUND_TABLE.match(name) else name


def op_tables(result):
    """{op id: table} over the traced operations of a perfbench
    result.json (its `traced_ops`, the window the spans cover)."""
    return {o["i"]: table_of(o["label"]) for o in result["traced_ops"]}


def classes(spans, tables=None):
    """{class: {n, p50_ms, jobs, jobs_min, jobs_max, job_ms, driver_ms}}
    over the operations in `spans`; with `tables` ({op id: table}), each
    class is split into `<class>@<table>`."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    per_cls = {}
    for group in by_op.values():
        roots = [s for s in group if s["name"].startswith("op.")]
        if len(roots) != 1:
            continue
        root = roots[0]
        selft = stats.self_times(group)
        job_ns = selft.get("exec.job", (0, 0))[0]
        cls = root["name"][3:]
        if tables is not None:
            cls = f"{cls}@{tables.get(root['op'], '?')}"
        per_cls.setdefault(cls, []).append({
            "ms": (root["end_ns"] - root["start_ns"]) / 1e6,
            "jobs": sum(1 for s in group if s["name"] == "exec.job"),
            "job_ms": job_ns / 1e6,
            "driver_ms": sum(ns for name, (ns, _) in selft.items()
                             if name != "exec.job") / 1e6,
        })
    out = {}
    for cls, ops in sorted(per_cls.items()):
        jobs = [o["jobs"] for o in ops]
        out[cls] = {
            "n": len(ops),
            "p50_ms": statistics.median(o["ms"] for o in ops),
            "jobs": statistics.mean(jobs),
            "jobs_min": min(jobs),
            "jobs_max": max(jobs),
            "job_ms": statistics.mean(o["job_ms"] for o in ops),
            "driver_ms": statistics.mean(o["driver_ms"] for o in ops),
        }
    return out


def render(table):
    lines = [f"{'class':<26}{'n':>4}{'p50_ms':>9}{'jobs':>7}{'range':>8}"
             f"{'job_ms':>9}{'driver_ms':>11}"]
    for cls, r in table.items():
        rng = f"{r['jobs_min']}-{r['jobs_max']}"
        lines.append(f"{cls:<26}{r['n']:>4}{r['p50_ms']:>9.1f}{r['jobs']:>7.2f}"
                     f"{rng:>8}{r['job_ms']:>9.1f}{r['driver_ms']:>11.1f}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("spans", help="spans.jsonl of a traced perfbench run")
    ap.add_argument("--json", action="store_true", help="print JSON, not a table")
    ap.add_argument("--result", metavar="result.json",
                    help="the run's result.json: split classes by table")
    a = ap.parse_args()
    tables = None
    if a.result:
        with open(a.result) as f:
            tables = op_tables(json.load(f))
    table = classes(read_spans(a.spans), tables)
    print(json.dumps(table, sort_keys=True) if a.json else render(table))


if __name__ == "__main__":
    main()
