"""Output checks, run after the measured windows. Each returns a dict from
the id of every operation whose output was wrong to the reason.

Query results are compared with the DuckDB oracle by the rule of
tools/check_oracle.py (sorted columns and rows, cell-exact); the HTAP
stream is replayed in DuckDB; rough counts and aggregates are recomputed
exactly over the unpacked table."""
import csv
import datetime
import glob
import json
import os
import pathlib
import sys

import duckdb

import stats

def _oracle_module(root):
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle
    return check_oracle


def _connect(oc, data_dir):
    """DuckDB views over the input tables, as the oracle check makes them."""
    con = duckdb.connect()
    for t in oc.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm(v):
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def _sorted_rows(rows):
    rows = [tuple(_norm(v) for v in r) for r in rows]
    return sorted(rows, key=lambda r: tuple(str(x) for x in r))


def _diff(oc, got, want):
    """None when the two sorted row lists agree cell by cell, else why."""
    if len(got) != len(want):
        return f"row count {len(got)} != oracle {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w):
            return f"row {i}: {len(g)} columns != oracle {len(w)}"
        for a, b in zip(g, w):
            if not oc.cells_equal(a, b)[0]:
                return f"row {i}: {a!r} != oracle {b!r}"
    return None


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def gates(root, data_dir, work, ops):
    """Each query gate's first timed result against the oracle; every
    timed result's digest against the digest of that verified result.
    An op's label is `gate unpacked <name>`."""
    oc = _oracle_module(root)
    con = _connect(oc, data_dir)
    with open(os.path.join(work, "oracle.json")) as f:
        oracles = json.load(f)
    bad = {}
    wrong_query = {}
    name_of = {o["i"]: o["label"].split(" ")[2] for o in ops}
    for name in sorted(set(name_of.values())):
        qdir = os.path.join(work, "verify", name)
        if not os.path.isdir(qdir):
            wrong_query[name] = "no verified result"
            continue
        cols, rows = oc.load_spark(pathlib.Path(qdir))
        if name not in oracles:
            if not rows:
                wrong_query[name] = "empty result and no oracle"
            continue
        try:
            ocols, orows = oc.run_oracle(con, oracles[name])
        except Exception as e:  # an oracle that cannot run is a failure
            wrong_query[name] = f"oracle error: {e}"
            continue
        if cols != ocols:
            wrong_query[name] = f"columns {cols} != oracle {ocols}"
            continue
        why = _diff(oc, _sorted_rows(rows), _sorted_rows(orows))
        if why:
            wrong_query[name] = why
    results = {r["i"]: r["rows"] for r in read_jsonl(os.path.join(work, "rows.jsonl"))}
    verified = {}
    for o in ops:
        name = name_of[o["i"]]
        if not o["ok"]:
            continue
        if name in wrong_query:
            bad[o["i"]] = f"{name}: {wrong_query[name]}"
            continue
        d = stats.digest(results[o["i"]])
        if d != verified.setdefault(name, d):
            bad[o["i"]] = f"{name}: digest differs from the verified result"
    return bad


def rough(root, data_dir, work, ops):
    """Counts and aggregates against exact recomputation over lineitem;
    the gates against their oracle."""
    con = _connect(_oracle_module(root), data_dir)
    results = {r["i"]: r["rows"] for r in read_jsonl(os.path.join(work, "rows.jsonl"))}
    bad = gates(root, data_dir, work, [o for o in ops if o["cls"] == "gate"])
    cache = {}
    for o in ops:
        if not o["ok"] or o["cls"] == "gate":
            continue
        f = o["label"].split(" ")
        kind, c = f[0], f[2]
        if kind in ("count_between", "roughly"):
            sql = f"SELECT COUNT(*) FROM lineitem WHERE {c} BETWEEN {f[3]} AND {f[4]}"
        elif kind == "rough_agg":
            sql = (f"SELECT COUNT(*), COUNT(*) - COUNT({c}), MIN({c}), MAX({c}), "
                   f"CAST(SUM(CAST(FLOOR({c} * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE)"
                   " / 10000.0 FROM lineitem")
        else:
            sql = (f"SELECT COUNT(*), MIN({c}), MAX({c}), "
                   f"SUM(CAST(FLOOR({c} * 10000.0 + 0.5) AS BIGINT)) FROM lineitem")
        if sql not in cache:
            cache[sql] = list(con.execute(sql).fetchone())
        want = cache[sql]
        got = [json.loads(r) for r in results[o["i"]]]
        got = got[0] if isinstance(got[0], list) else got
        if len(got) != len(want) or any(float(a) != float(b) for a, b in zip(got, want)):
            bad[o["i"]] = f"{o['label']}: {got} != exact {want}"
    return bad


def htap(root, data_dir, work, ops, duck):
    """Replay the executed statements in DuckDB; compare every SELECT and
    OUTFILE result and, at the end, the contents of every table. A wrong
    table is reported under the key `final:<table>`."""
    oc = _oracle_module(root)
    con = duckdb.connect()
    orders = os.path.join(data_dir, "orders.parquet")
    con.execute(f"CREATE TABLE ord AS SELECT * FROM read_parquet('{orders}')")
    con.execute(f"CREATE VIEW ord_packed AS SELECT * FROM read_parquet('{orders}')")
    selects = {r["i"]: [json.loads(x) for x in r["rows"]]
               for r in read_jsonl(os.path.join(work, "rows.jsonl"))}
    bad = {}
    for o in sorted(ops, key=lambda o: o["i"]):
        sql = duck[o["i"]]
        if not o["ok"] or sql is None:
            continue
        if o["cls"].startswith("select_"):
            want = _sorted_rows(con.execute(sql).fetchall())
            why = _diff(oc, _sorted_rows(selects.get(o["i"], [])), want)
        elif o["cls"] == "outfile":
            want = _sorted_rows(tuple(str(v) for v in r)
                                for r in con.execute(sql).fetchall())
            out = o["label"].split("INTO OUTFILE '")[1].split("'")[0]
            got = []
            for p in sorted(glob.glob(os.path.join(out, "*.csv"))):
                with open(p, newline="") as f:
                    got.extend(tuple(r) for r in csv.reader(f))
            why = _diff(oc, _sorted_rows(got), want)
        else:
            con.execute(sql)
            why = None
        if why:
            bad[o["i"]] = f"{o['label'][:80]}: {why}"
    # final contents: multiset difference both ways, inside DuckDB
    con.execute("SET TimeZone = 'UTC'")
    final = os.path.join(work, "final")
    for t in sorted(os.listdir(final)):
        got = f"read_parquet('{os.path.join(final, t)}/*.parquet')"
        cols = sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {got}").fetchall())
        want = sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {t}").fetchall())
        if cols != want:
            bad[f"final:{t}"] = f"final columns of {t}: {cols} != {want}"
            continue
        c = ", ".join(cols)
        n = con.execute(
            f"SELECT COUNT(*) FROM ((SELECT {c} FROM {got} EXCEPT ALL SELECT {c} FROM {t}) "
            f"UNION ALL (SELECT {c} FROM {t} EXCEPT ALL SELECT {c} FROM {got}))").fetchone()[0]
        if n:
            bad[f"final:{t}"] = f"final contents of {t}: {n} rows differ"
    return bad
