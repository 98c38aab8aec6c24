"""Seeded input generation for the workloads.

Every generator is a pure function of the seed (and of the directory the
generated files are to live in, which appears in the statement text).
The engine receives only the text and files written here, never the seed
or the workload name.
"""
import math
import random

# sf0.1 domains the generators draw from (orders keys 0..149999;
# lineitem l_quantity 1..50, l_extendedprice ~900..105000).
ORDER_KEYS = 150_000
QTY = (1, 50)
PRICE = (900.0, 105_000.0)
ROUGH_COLS = ["l_quantity", "l_extendedprice", "l_discount"]
# Headline gates that aggregate over all of lineitem as shipped (one row
# group): the scan cost without packs, next to the packed full scans. One
# runs per round, in turn, so that the selective counts (the operations
# pack skipping speeds up) keep most of a round's time.
ROUGH_GATES = ["q01_pricing_summary", "q06_forecast_revenue"]
ROUGH_ROUND = 6 * 2 + 1


def _range(rng, col):
    if col == "l_extendedprice":
        lo = round(rng.uniform(PRICE[0], PRICE[1] * 0.99), 2)
        return [col, f"{lo:.2f}", f"{lo + (PRICE[1] - PRICE[0]) * 0.01:.2f}"]
    q = rng.randint(*QTY)
    return [col, f"{q}.00", f"{q}.00"]


def rough_plan(seed, rounds=16):
    """Operations on the two pack layouts, in rounds of the same make-up:
    selective range counts through `countBetween` and through `SELECT
    ROUGHLY`, each on price (about 1 % of its domain) and on quantity
    (one value of 50), one rough aggregate and one full-scan aggregate,
    each emitted for both layouts back to back; and one of the
    ROUGH_GATES over the unpacked table. Each layout gets its own range,
    drawn from the same distribution: run twice in a row with the same
    literals, the second count was about 30 % faster on either layout
    (Spark reuses the code it generated for the first), which would
    pass for pack skipping. The seed picks the ranges and the order
    within a round; the aggregated columns and the gate rotate with the
    round number."""
    rng = random.Random(seed)
    lines = []
    for r in range(rounds):
        ops = [["count_between", "l_extendedprice"], ["count_between", "l_quantity"],
               ["roughly", "l_extendedprice"], ["roughly", "l_quantity"],
               ["rough_agg", ROUGH_COLS[r % 3]],
               ["full_scan", ROUGH_COLS[(r + 1) % 3]],
               ["gate", ROUGH_GATES[r % len(ROUGH_GATES)]]]
        rng.shuffle(ops)
        for op in ops:
            if op[0] == "gate":
                lines.append(f"gate\tunpacked\t{op[1]}")
                continue
            for layout in ("arrival", "zorder"):
                args = _range(rng, op[1]) if op[0] in ("count_between", "roughly") else op[1:]
                lines.append("\t".join([op[0], layout] + args))
    return "".join(line + "\n" for line in lines)


# One round of the HTAP stream, in order: a CREATE TABLE, then 22 reads,
# 7 writes, a delta flush (called on the store, as a background merge
# would) and an `OPTIMIZE TABLE` (the compaction a client asks for), the
# other lines spread between the reads. The mix is synthetic: it follows
# no published HTAP mix (CH-benCHmark and TPC-C define transactions over
# their own schemas, not a statement stream over one store). Its rules:
# every statement class runs in every round; reads outnumber writes about
# three to one; point lookups, the cheapest statement (~0.1 s), are the
# most frequent one, so that fixed per-statement cost weighs on the round
# as it does on a lookup-heavy client; and each round ends with a flush
# and an OPTIMIZE, so every round starts from a compacted store and its
# cost does not grow with the number of rounds run before it. The report
# gives each class's measured share of the window's time (`class_share`).
# The order is fixed, so every seed sees the same pattern of reads after
# writes (a read after a write pays for the new files); the seed picks
# keys, values, ranges and files. `(class, target)`: "ord" is the
# 150,000-row store, "small" the table the round created, and "alt"
# alternates between them by round, so both store sizes see UPDATE and
# DELETE. UPDATE and DELETE take opposite stores in a round: every round
# then rewrites the big store once and costs about the same, whether a
# window holds an odd or an even number of rounds.
HTAP_ROUND = [
    ("select_point", "ord"), ("select_point", "small"), ("insert_values", "small"),
    ("select_point", "ord"), ("select_range", "ord"), ("select_point", "small"),
    ("update", "alt"), ("select_point", "ord"), ("select_agg", "ord"),
    ("select_point", "small"), ("insert_values", "ord"), ("select_point", "ord"),
    ("select_range", "small"), ("select_point", "small"), ("load_data", "small"),
    ("select_point", "ord"), ("select_roughly", "ord"), ("select_point", "small"),
    ("flush", "ord"), ("select_point", "ord"), ("select_agg", "small"),
    ("select_point", "small"), ("delete", "alt"), ("select_point", "ord"),
    ("select_range", "ord"), ("select_point", "small"), ("insert_select", "small"),
    ("select_point", "ord"), ("outfile", "small"), ("insert_values", "small"),
    ("optimize", "ord"),
]
HTAP_ROUND_LEN = len(HTAP_ROUND) + 1
READ_CLASSES = {"select_point", "select_range", "select_agg",
                "select_roughly", "outfile"}
WRITE_CLASSES = {"insert_values", "insert_select", "load_data", "update",
                 "delete"}
SMALL_COLS = "id BIGINT NOT NULL, cust BIGINT, amount BIGINT, tag VARCHAR(8)"
TAGS = ["red", "green", "blue", "amber", "violet"]
LOAD_FILES = 4
LOAD_ROWS = 400
# Rounds a stream is generated with: the warm-up round, and enough for
# the windows of a traced run (twice the run's seconds) at
# HTAP_MAX_OPS_PER_S, about ten times the rate the engine reaches on a
# 4-core host (about 4 statements/s). A window that uses up the stream
# before its deadline fails the run.
HTAP_MAX_OPS_PER_S = 40


def htap_rounds(seconds):
    return 1 + math.ceil(2 * seconds * HTAP_MAX_OPS_PER_S / HTAP_ROUND_LEN)


def _csv_rows(rng, first_id, n):
    return [(first_id + i, rng.randrange(15_000), rng.randrange(100_000),
             rng.choice(TAGS)) for i in range(n)]


def htap_plan(seed, io_dir, rounds):
    """A MySQL statement stream over the attached store `ord` (sf0.1
    orders, 150,000 rows), small tables `t<k>` it creates by DDL, and the
    packed copy `ord_packed`, in rounds of HTAP_ROUND_LEN lines.

    Returns (plan text, DuckDB replay list, {csv path: csv text}). Plan
    lines are `<class>\\t<statement>`; the replay list holds, per line,
    the DuckDB statement with the same effect (None for flush and
    optimize, which change no contents). Keys of UPDATE, DELETE and point
    reads favour recent rows: an exponential distance below the newest
    key."""
    rng = random.Random(seed)
    files = {}
    for j in range(LOAD_FILES):
        path = f"{io_dir}/load_{j}.csv"
        rows = _csv_rows(rng, 1_000_000 * (j + 1), LOAD_ROWS)
        files[path] = "".join(f"{a},{b},{c},{d}\n" for a, b, c, d in rows)

    next_ord = ORDER_KEYS          # next key an INSERT into ord gets
    tables = []                    # small tables: [name, next id]
    plan, duck = [], []

    def recent(top, scale):
        return max(0, top - 1 - int(rng.expovariate(1.0 / scale)))

    def emit(cls, mysql, duck_sql):
        plan.append(f"{cls}\t{mysql}")
        duck.append(duck_sql)

    def statement(cls, on_ord, t):
        """(MySQL text, DuckDB text) of one line; a plain string is both."""
        nonlocal next_ord
        if cls == "select_point":
            if on_ord:
                return ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
                        f"FROM ord WHERE o_orderkey = {recent(next_ord, 2000)}")
            return (f"SELECT id, cust, amount, tag FROM {t[0]} "
                    f"WHERE id = {recent(t[1], 20)}")
        if cls == "select_range":
            if on_ord:
                lo = rng.randrange(next_ord)
                return ("SELECT o_orderkey, o_totalprice FROM ord "
                        f"WHERE o_orderkey BETWEEN {lo} AND {lo + 200}")
            lo = rng.randrange(t[1])
            return f"SELECT id, amount FROM {t[0]} WHERE id BETWEEN {lo} AND {lo + 50}"
        if cls == "select_agg":
            if on_ord:
                return ("SELECT o_orderstatus, COUNT(*) AS n, MIN(o_totalprice) AS lo, "
                        "MAX(o_totalprice) AS hi FROM ord GROUP BY o_orderstatus")
            return f"SELECT tag, COUNT(*) AS n, SUM(amount) AS s FROM {t[0]} GROUP BY tag"
        if cls == "select_roughly":
            lo = rng.uniform(1000.0, 450_000.0)
            where = f"WHERE o_totalprice BETWEEN {lo:.2f} AND {lo + 20_000.0:.2f}"
            return (f"SELECT ROUGHLY COUNT(*) AS n FROM ord_packed {where}",
                    f"SELECT COUNT(*) AS n FROM ord_packed {where}")
        if cls == "outfile":
            lo = rng.randrange(t[1])
            cols_where = f"FROM {t[0]} WHERE id BETWEEN {lo} AND {lo + 100}"
            return (f"SELECT id, cust, amount, tag INTO OUTFILE "
                    f"'{io_dir}/out_{len(plan)}' FIELDS TERMINATED BY ',' {cols_where}",
                    f"SELECT id, cust, amount, tag {cols_where}")
        if cls == "insert_values":
            vals = []
            if on_ord:
                for _ in range(rng.randint(1, 5)):
                    vals.append(
                        f"({next_ord}, {rng.randrange(15_000)}, 'O', "
                        f"{rng.randrange(100_000, 50_000_000) / 100:.2f}, "
                        f"'2001-08-{rng.randint(2, 28):02d} 00:00:00', '1-URGENT')")
                    next_ord += 1
                return "INSERT INTO ord VALUES " + ", ".join(vals)
            for _ in range(rng.randint(5, 20)):
                vals.append(f"({t[1]}, {rng.randrange(15_000)}, "
                            f"{rng.randrange(100_000)}, '{rng.choice(TAGS)}')")
                t[1] += 1
            return f"INSERT INTO {t[0]} VALUES " + ", ".join(vals)
        if cls == "insert_select":
            lo = rng.randrange(ORDER_KEYS - 100)
            return (f"INSERT INTO {t[0]} SELECT o_orderkey + {10_000_000 * (len(plan) + 1)}, "
                    "o_custkey, CAST(FLOOR(o_totalprice) AS BIGINT), o_orderstatus "
                    f"FROM ord WHERE o_orderkey BETWEEN {lo} AND {lo + 49}")
        if cls == "load_data":
            path = sorted(files)[rng.randrange(LOAD_FILES)]
            return (f"LOAD DATA INFILE '{path}' INTO TABLE {t[0]} "
                    "FIELDS TERMINATED BY ','",
                    f"INSERT INTO {t[0]} SELECT * FROM read_csv('{path}', "
                    "header=false, columns={'id': 'BIGINT', 'cust': 'BIGINT', "
                    "'amount': 'BIGINT', 'tag': 'VARCHAR'})")
        if cls == "update":
            if on_ord:
                k = recent(next_ord, 3000)
                return ("UPDATE ord SET o_totalprice = o_totalprice + 1, "
                        f"o_orderstatus = 'P' WHERE o_orderkey BETWEEN {k} AND {k + 20}")
            k = recent(t[1], 30)
            return f"UPDATE {t[0]} SET amount = amount + 7 WHERE id BETWEEN {k} AND {k + 5}"
        if cls == "flush":
            return ("ord", None)
        if cls == "optimize":
            return ("OPTIMIZE TABLE ord", None)
        if cls == "delete":
            if on_ord:
                k = recent(next_ord, 3000)
                return f"DELETE FROM ord WHERE o_orderkey BETWEEN {k} AND {k + 10}"
            k = recent(t[1], 30)
            return f"DELETE FROM {t[0]} WHERE id BETWEEN {k} AND {k + 3}"
        raise ValueError(cls)

    for r in range(rounds):
        name = f"t{r + 1}"
        tables.append([name, 1])
        emit("ddl", f"CREATE TABLE {name} ({SMALL_COLS}) ENGINE=TIANMU",
             f"CREATE TABLE {name} ({SMALL_COLS})")
        for cls, target in HTAP_ROUND:
            on_ord = target == "ord" or (
                target == "alt" and (r + (cls == "delete")) % 2 == 0)
            text = statement(cls, on_ord, tables[-1])
            emit(cls, *(text if isinstance(text, tuple) else (text, text)))
    return "".join(line + "\n" for line in plan), duck, files
