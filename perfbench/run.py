#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run, a closed loop with
one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source tree. The first run builds the engine and
the benchmark program with sbt (offline) into `.bench_build/`; later runs reuse the
build while the sources are unchanged. Input tables come from
$SPARK_GRAFT_SF_DIR (default ~/testdata/sf0.1), the sf0.1 tables the
headline bench reads. The last line of standard output is the result as
one JSON object; the line before it is the full report.
"""
import argparse
import hashlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb
import pyarrow.csv
import pyarrow.parquet

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("htap_statements", "rough_scan")
SETUP_REPS = 2
HEAP = "3g"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 850
REQUIRED = ("build.sbt", "project/build.properties",
            "src/main/scala/graft/Engine.scala", "tools/check_oracle.py")

# The metrics of the last output line (BENCHMARK.json lists the same):
# end-to-end ones with --trace 0, per-layer ones with --trace 1. The
# report line before it holds these and every other metric.
END_TO_END = {"setup_s": "s", "ops_per_s": "1/s"}
PER_LAYER = {
    "engine.session_start_ms": "ms",
    "engine.table_open_ms": "ms",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_wait_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.task_run_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.core_util": "ratio",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "exec.failed_tasks": "count",
    "scan.files_read": "count",
    "scan.files_total": "count",
    "scan.rows_per_row_returned": "ratio",
    "scan.pack_skip_ratio.li_arrival": "ratio",
    "scan.pack_skip_ratio.li_zorder": "ratio",
    "scan.pack_skip_ratio.ord_packed": "ratio",
    "statssidecar.li_arrival.packs_none": "count",
    "statssidecar.li_arrival.packs_some": "count",
    "statssidecar.li_arrival.packs_all": "count",
    "statssidecar.li_zorder.packs_none": "count",
    "statssidecar.li_zorder.packs_some": "count",
    "statssidecar.li_zorder.packs_all": "count",
    "deltastore.delta_rows": "count",
    "deltastore.delta_files": "count",
    "deltastore.epoch_bumps": "count",
    "operators.build_jobs": "count",
    "trace.jobs_self_ms": "ms",
    "trace.driver_self_ms": "ms",
    "trace.overhead_pct": "%",
}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files(root):
    """Every file the build reads: the engine's build and main sources,
    and the benchmark program's build and sources."""
    out = []
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties",
                 "perfbench/src"):
        p = os.path.join(root, base)
        if os.path.isfile(p):
            out.append(base)
        for d, _, fs in os.walk(p):
            out.extend(os.path.relpath(os.path.join(d, f), root) for f in fs)
    return sorted(out)


def source_stamp(root):
    h = hashlib.sha256()
    for rel in source_files(root):
        h.update(rel.encode() + b"\0")
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile the engine and the benchmark program unless `.bench_build` holds a
    build of the same sources; return the JVM arguments to launch with."""
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp(root)
    spec = os.path.join(out, "launch.txt")
    stamp_file = os.path.join(out, "launch.stamp")
    if os.path.exists(spec) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(spec) as g:
                    return g.read().split("\n")[:-1], stamp
    # offline resolution; sbt's temp files (server sockets) and global
    # state stay inside the tree
    tmp = os.path.join(out, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"),
        f"-Djava.io.tmpdir={tmp}", f"-Dsbt.global.base={os.path.join(out, 'sbt-global')}",
        "-Dsbt.server.autostart=false"])
    log = os.path.join(out, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "perfbench/launchSpec"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=f,
            stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        die(f"build failed, see {log}")
    shutil.copy(os.path.join(root, "perfbench", "target", "launch.txt"), spec)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(spec) as g:
        return g.read().split("\n")[:-1], stamp


def git_commit(root):
    """HEAD of the tree when it is a git checkout, else None (the source
    SHA-256 in the report identifies the code either way)."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=root,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    out = r.stdout.split()
    if r.returncode != 0 or len(out) != 2 or os.path.realpath(out[0]) != os.path.realpath(root):
        return None
    return out[1]


def cores():
    return len(os.sched_getaffinity(0))


def table_sizes(data_dir, names):
    con = duckdb.connect()
    out = {}
    for t in names:
        p = os.path.join(data_dir, f"{t}.parquet")
        rows = con.execute(f"SELECT COUNT(*) FROM read_parquet('{p}')").fetchone()[0]
        out[t] = {"rows": rows, "bytes": os.path.getsize(p)}
    return out


def make_inputs(workload, seed, seconds, work):
    """Write the plan (and any files it names) under `work`; return the
    plan path, the round length, the DuckDB replay list and the tables
    the workload reads."""
    io_dir = os.path.join(work, "io")
    os.makedirs(io_dir)
    duck = None
    if workload == "rough_scan":
        plan, rnd, tables = gen.rough_plan(seed), gen.ROUGH_ROUND, ["lineitem"]
    else:
        plan, duck, files = gen.htap_plan(seed, io_dir, gen.htap_rounds(seconds))
        rnd, tables = gen.HTAP_ROUND_LEN, ["orders"]
        for path, text in files.items():
            with open(path, "w") as f:
                f.write(text)
    path = os.path.join(work, "plan.tsv")
    with open(path, "w") as f:
        f.write(plan)
    return path, rnd, duck, tables


def run_jvm(launch, workload, plan, data_dir, work, seconds, trace, n_cores, rnd):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}"] + launch +
           ["perfbench.Main", workload, plan, data_dir, os.path.join(work, "out"),
            str(seconds), str(trace), str(n_cores), str(SETUP_REPS), str(rnd)])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"benchmark JVM timed out, see {work}/jvm.log")
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        die(f"benchmark JVM exited with {code}, see {work}/jvm.log")
    with open(os.path.join(work, "out", "result.json")) as f:
        return json.load(f)


def latency_block(ops, prefix, note_into):
    """p50 and p90 of the ops' latencies, under `prefix`."""
    ms = [o["ms"] for o in ops]
    out = {}
    if ms:
        out[f"{prefix}_p50_ms"] = stats.median(ms)
    p90, note = stats.tail(ms, 90)
    note_into[f"{prefix}_p90_ms"] = note
    if p90 is not None:
        out[f"{prefix}_p90_ms"] = p90
    return out


def end_to_end(workload, res, notes):
    ops = res["ops"]
    ok = [o for o in ops if o["ok"]]
    m = {
        "setup_s": stats.median([s["total_ms"] for s in res["setup"]]) / 1000.0,
        "ops_per_s": len(ok) / (res["wall_ms"] / 1000.0),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    m.update(latency_block(ok, "latency", notes))
    if workload == "htap_statements":
        m.update(latency_block([o for o in ok if o["cls"] in gen.READ_CLASSES],
                               "read", notes))
        m.update(latency_block([o for o in ok if o["cls"] in gen.WRITE_CLASSES],
                               "write", notes))
    if workload == "rough_scan":
        for cls in ("selective", "full_scan", "gate", "rough_agg"):
            m[f"{cls}_p50_ms"] = stats.median([o["ms"] for o in ok if o["cls"] == cls])
    return m


def class_breakdown(workload, ops):
    """Median latency and share of the summed latency of each operation
    class (on rough_scan, class and layout), over `ops`."""
    by = {}
    for o in ops:
        key = o["cls"]
        if workload == "rough_scan" and key != "gate":
            key += "." + o["label"].split(" ")[1]
        by.setdefault(key, []).append(o["ms"])
    total = sum(o["ms"] for o in ops)
    return ({k: stats.median(v) for k, v in sorted(by.items())},
            {k: sum(v) / total for k, v in sorted(by.items())})


def per_layer(res, spans, untraced):
    """Per-layer numbers of the traced window. Rates are per operation of
    that window unless the name says otherwise. `untraced` is the mean
    latency of the untraced windows before and after it."""
    c = res["counters"]
    ops = res["traced_ops"]
    n = max(1, len(ops))
    wall_s = res["traced_wall_ms"] / 1000.0
    setups = res["setup"]
    m = {
        "engine.session_start_ms": stats.median([s["session_ms"] for s in setups]),
        "engine.table_open_ms": stats.median([s["table_open_ms"] for s in setups]),
    }
    for k in ("analysis", "optimization", "planning"):
        m[f"plans.{k}_ms"] = c.get(f"plans.{k}_ms", 0.0) / n
    for k in ("jobs", "stages", "tasks", "task_cpu_ms", "task_run_ms", "gc_ms",
              "shuffle_read_bytes", "shuffle_write_bytes", "shuffle_fetch_wait_ms",
              "spill_bytes", "input_bytes", "output_bytes"):
        m[f"exec.{k}"] = c.get(f"exec.{k}", 0.0) / n
    m["exec.task_wait_ms"] = c.get("exec.task_wait_ms", 0.0) / max(1.0, c.get("exec.tasks", 0.0))
    m["exec.failed_tasks"] = c.get("exec.failed_tasks", 0.0)
    m["exec.core_util"] = c.get("exec.task_run_ms", 0.0) / 1000.0 / (wall_s * int(res["context"]["cores"]))
    read = c.get("scan.files_read", 0.0) + sum(v for k, v in c.items()
                                                if k.startswith("scan.packed.") and k.endswith(".files_read"))
    total = c.get("scan.files_total", 0.0) + sum(v for k, v in c.items()
                                                  if k.startswith("scan.packed.") and k.endswith(".files_total"))
    m["scan.files_read"] = read / n
    m["scan.files_total"] = total / n
    for layout in ("li_arrival", "li_zorder", "ord_packed"):
        tot = c.get(f"scan.packed.{layout}.files_total", 0.0)
        m[f"scan.pack_skip_ratio.{layout}"] = (
            1.0 - c.get(f"scan.packed.{layout}.files_read", 0.0) / tot if tot else 0.0)
    scanned = c.get("scan.rows", 0.0) + sum(v for k, v in c.items()
                                            if k.startswith("scan.packed.") and k.endswith(".rows"))
    m["scan.rows_per_row_returned"] = scanned / max(1, sum(o["rows"] for o in ops))
    for layout in ("li_arrival", "li_zorder"):
        for state in ("none", "some", "all"):
            m[f"statssidecar.{layout}.packs_{state}"] = c.get(
                f"statssidecar.{layout}.packs_{state}", 0.0)
    # store state at the end of the run, and mutation-epoch bumps per
    # operation of the whole run
    for k in ("delta_rows", "delta_files"):
        m[f"deltastore.{k}"] = c.get(f"deltastore.{k}", 0.0)
    m["deltastore.epoch_bumps"] = c.get("deltastore.epoch_bumps", 0.0) / (
        len(res["warm_ops"]) + len(res["ops"]) + len(ops) + len(res["after_ops"]))
    traced_ids = {o["i"] for o in ops}
    spans = [s for s in spans if s["op"] in traced_ids]
    selft = stats.self_times(spans)
    builds = {}
    for s in spans:
        if s["name"] == "operators.build":
            builds.setdefault(s["op"], []).append((s["start_ns"], s["end_ns"]))
    m["operators.build_jobs"] = sum(
        1 for s in spans if s["name"] == "exec.job" and any(
            lo <= s["start_ns"] <= hi for lo, hi in builds.get(s["op"], []))) / n
    m["trace.jobs_self_ms"] = selft.get("exec.job", (0, 0))[0] / 1e6 / n
    m["trace.driver_self_ms"] = sum(ns for name, (ns, _) in selft.items()
                                    if name != "exec.job") / 1e6 / n
    traced_mean = statistics.mean(o["ms"] for o in ops)
    m["trace.overhead_pct"] = (traced_mean / untraced - 1.0) * 100.0
    return m, selft


def span_ms(spans, name):
    return [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == name]


def mean_or_none(values):
    return statistics.mean(values) if values else None


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def htap_storage(work):
    """On-disk bytes of every store (the seeded one and those the stream
    created) over the bytes of the final table contents as CSV text."""
    stored = dir_bytes(os.path.join(work, "out", "stores", "ord")) + sum(
        dir_bytes(os.path.join(work, "tmp", d))
        for d in os.listdir(os.path.join(work, "tmp")) if d.startswith("graft-create"))
    user = 0
    final = os.path.join(work, "out", "final")
    for t in os.listdir(final):
        buf = io.BytesIO()
        pyarrow.csv.write_csv(pyarrow.parquet.read_table(os.path.join(final, t)), buf,
                              pyarrow.csv.WriteOptions(include_header=False))
        user += len(buf.getvalue())
    return stored / user


def htap_layers(res, spans):
    """Statement-tier layer numbers of the traced window."""
    ops = {o["i"]: o for o in res["traced_ops"]}
    by_cls = {}
    for s in spans:
        if s["name"] == "statements.run" and s["op"] in ops:
            by_cls.setdefault(ops[s["op"]]["cls"], []).append(
                (s["end_ns"] - s["start_ns"]) / 1e6)
    m = {f"statements.run_ms.{c}": statistics.mean(v) for c, v in sorted(by_cls.items())}
    m["statements.dialect_ms"] = mean_or_none(span_ms(spans, "statements.dialect"))
    for k in ("read", "flush"):
        m[f"deltastore.{k}_ms"] = mean_or_none(span_ms(spans, f"deltastore.{k}"))
    m["deltastore.compact_ms"] = mean_or_none(by_cls.get("optimize", []))
    loads = by_cls.get("load_data", [])
    m["csvloader.load_rows_per_s"] = (gen.LOAD_ROWS * len(loads) / (sum(loads) / 1000)
                                      if loads else None)
    m["csvloader.export_ms"] = mean_or_none(by_cls.get("outfile", []))
    c = res["counters"]
    writes = gen.WRITE_CLASSES | {"ddl", "flush", "optimize"}
    written = sum(c.get(f"exec.output_bytes.{k}", 0.0) for k in writes)
    # user bytes: the text of each write statement, or the file it loads
    user = sum(os.path.getsize(o["label"].split("'")[1]) if o["cls"] == "load_data"
               else len(o["label"].encode())
               for o in res["traced_ops"] if o["cls"] in gen.WRITE_CLASSES)
    m["deltastore.bytes_written_per_user_byte"] = written / user if user else None
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(root, p))]
    if missing:
        die(f"not a source tree of the engine: missing {', '.join(missing)}")
    data_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                              os.path.expanduser("~/testdata/sf0.1"))
    launch, stamp = build(root)

    work = os.path.join(root, ".bench_build", "runs", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    plan, rnd, duck, tables = make_inputs(a.workload, a.seed, a.seconds, work)
    for t in tables:
        if not os.path.exists(os.path.join(data_dir, f"{t}.parquet")):
            die(f"input table {t}.parquet not found in {data_dir}")
    n_cores = cores()
    t0 = time.time()
    res = run_jvm(launch, a.workload, plan, data_dir, work, a.seconds, a.trace,
                  n_cores, rnd)
    jvm_s = time.time() - t0
    if res["ran_out"]:
        die(f"the statement stream ran out before the end of the "
            f"{', '.join(res['ran_out'])} window(s): raise gen.HTAP_MAX_OPS_PER_S")

    out = os.path.join(work, "out")
    all_ops = res["warm_ops"] + res["ops"] + res["traced_ops"] + res["after_ops"]
    if a.workload == "rough_scan":
        bad = check.rough(root, data_dir, out, all_ops)
    else:
        bad = check.htap(root, data_dir, out, all_ops, duck)
    failed_ops = {o["i"]: o["err"] for o in all_ops if not o["ok"]}
    failed_ops.update(bad)
    attempted = len(all_ops) + (len(os.listdir(os.path.join(out, "final")))
                                if a.workload == "htap_statements" else 0)
    for k, why in sorted(failed_ops.items(), key=lambda kv: str(kv[0])):
        print(f"perfbench: failed {k}: {why}", file=sys.stderr)

    notes = {}
    e2e = end_to_end(a.workload, res, notes)
    class_p50, class_share = class_breakdown(a.workload, res["ops"])
    e2e["fail_ratio"] = len(failed_ops) / attempted
    if a.workload == "htap_statements":
        e2e["bytes_stored_per_user_byte"] = htap_storage(work)
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "attempted": attempted, "failed": len(failed_ops),
        "failed_ops": {str(k): v for k, v in failed_ops.items()},
        "samples": len(res["ops"]), "notes": notes,
        "end_to_end": e2e, "class_p50_ms": class_p50, "class_share": class_share,
        "windows": {name: {"ops": len(res[key]), "rounds": len(res[key]) / rnd}
                    for name, key in (("warm-up", "warm_ops"), ("untraced", "ops"),
                                      ("traced", "traced_ops"), ("after", "after_ops"))},
        "context": dict(res["context"], nproc=os.cpu_count(), cores_used=n_cores,
                        heap=HEAP, source_sha256=stamp, git_commit=git_commit(root),
                        seed=a.seed,
                        setup_reps=SETUP_REPS, jvm_wall_s=jvm_s,
                        inputs=table_sizes(data_dir, tables)),
    }
    if a.trace:
        spans = check.read_jsonl(os.path.join(out, "spans.jsonl"))
        layer, selft = per_layer(res, spans, statistics.mean(
            o["ms"] for o in res["ops"] + res["after_ops"]))
        report["per_layer"] = layer
        if a.workload == "htap_statements":
            report["per_layer_htap"] = htap_layers(res, spans)
        else:
            report["per_layer_rough"] = {
                f"{name}_ms": mean_or_none(span_ms(spans, name))
                for name in ("statssidecar.rough_check", "statssidecar.count_between",
                             "statssidecar.rough_agg", "operators.build")}
        report["self_ms_per_op"] = {k: ns / 1e6 / max(1, len(res["traced_ops"]))
                                    for k, (ns, _) in sorted(selft.items())}
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({"correct": not failed_ops, "attempted": attempted,
                      "failed": len(failed_ops), "metrics": metrics}))


if __name__ == "__main__":
    main()
