"""Seeded workload generator for the graft benchmark.

The seed fixes every input a run sends to the program: query parameters,
write batches and the order of ops and gates. The program under test receives
only the generated plan. Parameters are drawn from the real ranges of the
TPC-H-shaped fixture tables, so every query selects data.
"""
import datetime as dt
import random

# Real ranges of the fixture data (sf0.1): l_shipdate 1995-01-02..2001-11-04,
# o_orderdate 1995-01-01..2001-08-01, events ts 2024-01-01..2024-01-30.
ORDERKEY_MAX = 149_999
EVENT_DAY0 = dt.date(2024, 1, 1)
EVENT_DAYS = 30
USERS = 1500
EVENT_IDS = 100_000  # initial event_id range is [0, EVENT_IDS)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# sql_read builds `web.events` as one snapshot per slice between these cuts,
# so snapshot v holds the events before cut v and the last snapshot holds all.
EVENTS_CUTS = ["2024-01-11 00:00:00", "2024-01-21 00:00:00"]
LINEITEM_FILES = 16

# pipeline_batch gates, one per operator family: MinHash LSH near-dup
# (graft.text: custom expressions over graft.operators.Spread pins), vector
# quantization (graft.vector), heap-pruned top-k per group (graft.operators)
# and windowed micro-batch aggregation (graft.streaming).
GATES = ["q22_minhash_neardup", "q66_quantized_dup_pairs", "q67_topk_per_group",
         "q35_stream_hourly"]

# Plans are generated longer than any run can consume.
PLAN_QUERIES = 1200
PLAN_COMMITS = 700
PLAN_PASSES = 100
RETAIN_SNAPSHOTS = 10

DEC = "DECIMAL(18,2)"
DISC_PRICE = (f"CAST(l.l_extendedprice AS {DEC}) * (1 - CAST(l.l_discount AS {DEC}))")


def _day(d):
    return d.isoformat()


def _rand_date(rng, lo, hi):
    return lo + dt.timedelta(days=rng.randrange((hi - lo).days + 1))


def _tables(surface):
    """Table references for one surface: engine (`ns.t`), the DSv2 catalog
    (`{cat}.ns.t`, the catalog name filled in by the harness) or DuckDB."""
    names = {"lineitem": "tpch", "orders": "tpch", "customer": "tpch",
             "supplier": "tpch", "nation": "tpch", "region": "tpch", "events": "web"}
    if surface == "duck":
        return {t: t for t in names}
    prefix = "{cat}." if surface == "dsv2" else ""
    return {t: f"{prefix}{ns}.{t}" for t, ns in names.items()}


def _lookup(rng, kind):
    if kind == "lineitem_range":
        # about one range-clustered file's worth of keys or less
        w = rng.randint(200, 1500)
        a = rng.randint(0, ORDERKEY_MAX - w)
        return (f"SELECT l_returnflag, COUNT(*) AS n, SUM(CAST(l_quantity AS {DEC})) AS qty, "
                f"SUM(CAST(l_extendedprice AS {DEC})) AS price FROM {{lineitem}} "
                f"WHERE l_orderkey BETWEEN {a} AND {a + w} GROUP BY l_returnflag")
    if kind == "lineitem_rows":
        a = rng.randint(0, ORDERKEY_MAX - 40)
        return (f"SELECT l_orderkey, l_linenumber, CAST(l_quantity AS {DEC}) AS qty, "
                f"CAST(l_shipdate AS DATE) AS ship FROM {{lineitem}} "
                f"WHERE l_orderkey BETWEEN {a} AND {a + 40} ORDER BY l_orderkey, l_linenumber")
    d = EVENT_DAY0 + dt.timedelta(days=rng.randrange(EVENT_DAYS))
    u = rng.randrange(USERS - 50)
    return (f"SELECT event_type, COUNT(*) AS n, SUM(CAST(value AS {DEC})) AS v FROM {{events}} "
            f"WHERE ts >= TIMESTAMP '{_day(d)} 00:00:00' "
            f"AND ts < TIMESTAMP '{_day(d + dt.timedelta(days=1))} 00:00:00' "
            f"AND user_id BETWEEN {u} AND {u + 49} GROUP BY event_type")


def _aggregate(rng, shape):
    if shape == "q1":
        d = _rand_date(rng, dt.date(1996, 1, 1), dt.date(2001, 9, 1))
        sql = (f"SELECT l.l_returnflag, l.l_linestatus, COUNT(*) AS count_order, "
               f"SUM(CAST(l.l_quantity AS {DEC})) AS sum_qty, "
               f"SUM(CAST(l.l_extendedprice AS {DEC})) AS sum_base_price, "
               f"SUM({DISC_PRICE}) AS sum_disc_price, "
               f"SUM({DISC_PRICE} * (1 + CAST(l.l_tax AS {DEC}))) AS sum_charge "
               f"FROM {{lineitem}} l WHERE l.l_shipdate <= DATE '{_day(d)}' "
               f"GROUP BY l.l_returnflag, l.l_linestatus ORDER BY l.l_returnflag, l.l_linestatus")
    elif shape == "q3":
        d = _rand_date(rng, dt.date(1995, 3, 1), dt.date(2001, 6, 30))
        seg = rng.choice(SEGMENTS)
        sql = (f"SELECT l.l_orderkey, SUM({DISC_PRICE}) AS revenue, "
               f"CAST(o.o_orderdate AS DATE) AS o_orderdate "
               f"FROM {{customer}} c JOIN {{orders}} o ON c.c_custkey = o.o_custkey "
               f"JOIN {{lineitem}} l ON l.l_orderkey = o.o_orderkey "
               f"WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate < DATE '{_day(d)}' "
               f"AND l.l_shipdate > DATE '{_day(d)}' "
               f"GROUP BY l.l_orderkey, o.o_orderdate "
               f"ORDER BY revenue DESC, l.l_orderkey LIMIT 10")
    elif shape == "q5":
        y = rng.randint(1995, 2000)
        region = rng.choice(REGIONS)
        sql = (f"SELECT n.n_name, SUM({DISC_PRICE}) AS revenue "
               f"FROM {{customer}} c JOIN {{orders}} o ON c.c_custkey = o.o_custkey "
               f"JOIN {{lineitem}} l ON l.l_orderkey = o.o_orderkey "
               f"JOIN {{supplier}} s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey "
               f"JOIN {{nation}} n ON s.s_nationkey = n.n_nationkey "
               f"JOIN {{region}} r ON n.n_regionkey = r.r_regionkey "
               f"WHERE r.r_name = '{region}' AND o.o_orderdate >= DATE '{y}-01-01' "
               f"AND o.o_orderdate < DATE '{y + 1}-01-01' "
               f"GROUP BY n.n_name ORDER BY revenue DESC, n.n_name")
    else:
        y, q = rng.randint(1995, 2001), rng.randrange(4)
        if y == 2001:  # orders end in 2001-08
            q = min(q, 1)
        lo = dt.date(y, 3 * q + 1, 1)
        hi = dt.date(y + (q == 3), (3 * q + 3) % 12 + 1, 1)
        sql = (f"SELECT c.c_custkey, c.c_name, SUM({DISC_PRICE}) AS revenue, "
               f"CAST(c.c_acctbal AS {DEC}) AS acctbal, n.n_name "
               f"FROM {{customer}} c JOIN {{orders}} o ON c.c_custkey = o.o_custkey "
               f"JOIN {{lineitem}} l ON l.l_orderkey = o.o_orderkey "
               f"JOIN {{nation}} n ON c.c_nationkey = n.n_nationkey "
               f"WHERE o.o_orderdate >= DATE '{_day(lo)}' AND o.o_orderdate < DATE '{_day(hi)}' "
               f"AND l.l_returnflag = 'R' "
               f"GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name "
               f"ORDER BY revenue DESC, c.c_custkey LIMIT 20")
    return sql


def _history(rng, kind):
    """Time travel and metadata faces; returns (shape, surface, sql, duck, as_of)."""
    if kind in ("version_as_of", "execute_as_of", "read_as_of"):
        v = rng.randint(1, len(EVENTS_CUTS))
        u = rng.randrange(USERS - 200)
        body = (f"SELECT event_type, COUNT(*) AS n, SUM(CAST(value AS {DEC})) AS v FROM {{t}} "
                f"WHERE user_id BETWEEN {u} AND {u + 199} GROUP BY event_type")
        duck = body.format(t=f"events_v{v}")
        if kind == "version_as_of":
            return kind, "dsv2", body.format(t=f"{{cat}}.web.events VERSION AS OF {v}"), duck, ""
        if kind == "read_as_of":  # IceTable.readAsOf, queried through a temp view
            return kind, "core", body.format(t="events_as_of"), duck, str(v)
        return kind, "engine", body.format(t="web.events"), duck, str(v)
    if kind == "snapshots":
        n = len(EVENTS_CUTS) + 1
        duck = " UNION ALL ".join(
            f"SELECT {v} AS snapshot_id, 'append' AS operation, "
            f"(SELECT COUNT(*) FROM events_v{v}) AS live_rows" for v in range(1, n + 1))
        return (kind, "dsv2", "SELECT snapshot_id, operation, live_rows FROM "
                "{cat}.web.events.snapshots ORDER BY snapshot_id",
                f"SELECT * FROM ({duck}) ORDER BY snapshot_id", "")
    return (kind, "dsv2", "SELECT COUNT(*) AS files, SUM(record_count) AS n "
            "FROM {cat}.tpch.lineitem.files",
            f"SELECT {LINEITEM_FILES} AS files, COUNT(*) AS n FROM lineitem", "")


# One block of the sql_read stream, shuffled per block: half selective
# lookups (each kind on both surfaces), a third TPC-H shaped aggregates and
# joins (each shape once, on a fixed surface) and the rest history reads, two
# per block, rotating through the five kinds. Every block holds the same
# lookups and aggregates, so a run of whole blocks sends the same mix however
# many blocks it completes.
SQL_READ_BLOCK = [("lineitem_range", "engine"), ("lineitem_range", "dsv2"),
                  ("lineitem_rows", "engine"), ("lineitem_rows", "dsv2"),
                  ("events_day", "engine"), ("events_day", "dsv2"),
                  ("q1", "engine"), ("q3", "dsv2"), ("q5", "engine"), ("q10", "dsv2"),
                  ("history", ""), ("history", "")]
HISTORY = ["version_as_of", "execute_as_of", "read_as_of", "snapshots", "files"]


def _sql_read_query(rng, i, kind, surface):
    if kind in HISTORY:
        shape, surface, sql, duck, as_of = _history(rng, kind)
        return {"id": f"r{i}", "shape": shape, "surface": surface, "sql": sql,
                "duck": duck, "ordered": False, "table": "web.events", "as_of": as_of}
    if kind.startswith("q"):
        shape, sql = kind, _aggregate(rng, kind)
    else:
        shape, sql = "lookup", _lookup(rng, kind)
    # rows are compared in order only where LIMIT makes the order part of the answer
    return {"id": f"r{i}", "shape": shape, "surface": surface,
            "sql": sql.format(**_tables(surface)), "duck": sql.format(**_tables("duck")),
            "ordered": "LIMIT" in sql, "table": "", "as_of": ""}


def _sql_read_kinds(rng, n):
    """(kind, surface) for `n` queries, as whole shuffled blocks."""
    out, h = [], 0
    while len(out) < n:
        block = []
        for kind, surface in SQL_READ_BLOCK:
            if kind == "history":
                kind, h = HISTORY[h % len(HISTORY)], h + 1
            block.append((kind, surface))
        rng.shuffle(block)
        out += block
    return out


def sql_read(seed):
    rng = random.Random(f"sql_read/{seed}")
    queries = [_sql_read_query(rng, i, k, surface)
               for i, (k, surface) in enumerate(_sql_read_kinds(rng, PLAN_QUERIES))]
    # warm-up, from a fixed stream: every (kind, surface) pair once
    warm, seen, wrng = [], set(), random.Random("sql_read/warmup")
    for k, surface in _sql_read_kinds(wrng, 3 * len(SQL_READ_BLOCK)):
        if (k, surface) not in seen:
            seen.add((k, surface))
            q = _sql_read_query(wrng, len(warm), k, surface)
            q["id"] = f"w{len(warm)}"
            warm.append(q)
    return {"workload": "sql_read", "seed": seed, "events_cuts": EVENTS_CUTS,
            "lineitem_files": LINEITEM_FILES, "block": len(SQL_READ_BLOCK),
            "queries": queries, "warmup": warm}


# One block of commit_mix writes, followed by the inline maintenance
# (compaction, then snapshot expiry): ten small appends, and every other write
# kind once: SQL MERGE INTO and Dml.upsert, the copy-on-write rewrites
# IceTable.rewriteWhereCow, Dml.update and Dml.delete, and the merge-on-read
# deleteWhereMor and updateWhereMor, late in the block. Every block holds the
# same writes, so a run of whole blocks sends the same mix however many blocks
# it completes. The seed orders the append sizes and the read-after-write
# queries; the other writes keep their places, so every run's reads see the
# same share of merge-on-read state (the reads after a merge-on-read write,
# until the compaction folds its deletes).
COMMIT_BLOCK = ["append", "append", "merge", "append", "cow_delete", "append", "upsert",
                "append", "dml_update", "append", "dml_delete", "append", "append",
                "mor_delete", "append", "mor_update", "append"]
APPEND_ROWS = [1000, 2000, 3000, 4000, 5000]  # two appends of each size per block
# The read-after-write queries of one block, shuffled: head aggregates through
# QueryEngine.execute, recent key ranges through it, and head aggregates
# straight off IceTable.read.
READS = [("engine", False)] * 12 + [("engine", True)] * 5 + [("core", False)] * 2
RECENT_IDS = 20_000  # merges, upserts and range rewrites touch recent keys
WARMUP_ROWS = 10_000  # the warm-up table holds the events with a smaller event_id


def _commit_op(rng, kind, known, new_id):
    """One write op over a table holding ids below `known`, whose new rows
    take ids from `new_id` on; returns (op, new ids used)."""
    recent = max(0, known - RECENT_IDS)
    if kind == "append":
        n = rng.choice(APPEND_ROWS)
        return {"op": kind, "first_id": new_id, "n": n, "salt": rng.getrandbits(31)}, n
    if kind in ("mor_delete", "mor_update"):
        op = {"op": kind, "user": rng.randrange(USERS)}
        if kind == "mor_update":
            op["cents"] = rng.randint(1, 999)
        return op, 0
    if kind in ("merge", "upsert"):
        existing = rng.sample(range(recent, known), 100)
        return {"op": kind, "ids": sorted(existing) + list(range(new_id, new_id + 100)),
                "salt": rng.getrandbits(31)}, 100
    lo = rng.randrange(recent, known - 200)
    return {"op": kind, "lo": lo, "hi": lo + rng.randint(20, 200)}, 0


def commit_mix(seed):
    rng = random.Random(f"commit_mix/{seed}")
    ops, next_id = [], EVENT_IDS
    while len(ops) < PLAN_COMMITS:
        sizes = rng.sample(APPEND_ROWS * 2, 2 * len(APPEND_ROWS))
        reads = rng.sample(READS, len(READS))
        block_ops, first_new = [], next_id
        for kind in COMMIT_BLOCK:
            op, used = _commit_op(rng, kind, next_id, next_id)
            if kind == "append":
                op["n"] = used = sizes.pop()
            next_id += used
            block_ops.append(op)
        block_ops += [{"op": "compact"}, {"op": "expire", "retain": RETAIN_SNAPSHOTS}]
        for op, (surface, ranged) in zip(block_ops, reads):
            op["read_surface"] = surface
            if ranged:
                lo = rng.randrange(first_new - RECENT_IDS, first_new - 1000)
                op["read_range"] = [lo, lo + 999]
        ops += block_ops
    # warm-up: every op kind once, on a small table of its own
    wrng, warm, wid = random.Random("commit_mix/warmup"), [], WARMUP_ROWS
    for kind in dict.fromkeys(COMMIT_BLOCK):
        op, used = _commit_op(wrng, kind, WARMUP_ROWS, wid)
        wid += used
        warm.append(op)
    warm += [{"op": "compact"}, {"op": "expire", "retain": RETAIN_SNAPSHOTS}]
    return {"workload": "commit_mix", "seed": seed, "block": len(COMMIT_BLOCK) + 2,
            "ops": ops, "warmup": warm, "warmup_rows": WARMUP_ROWS}


def pipeline_batch(seed):
    rng = random.Random(f"pipeline_batch/{seed}")
    return {"workload": "pipeline_batch", "seed": seed, "gates": GATES, "block": len(GATES),
            "passes": [rng.sample(GATES, len(GATES)) for _ in range(PLAN_PASSES)]}


WORKLOADS = {"sql_read": sql_read, "commit_mix": commit_mix, "pipeline_batch": pipeline_batch}


def plan(workload, seed):
    return WORKLOADS[workload](seed)
