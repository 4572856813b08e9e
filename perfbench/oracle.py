"""DuckDB checks for the graft benchmark, run after the timed phase: every
sql_read answer against the same query over the source parquet, and every
pipeline_batch gate against its `SparkEntry.oracleSql` entry."""
import datetime as dt
import decimal
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canonical(v):
    """Cell value in the form the JVM harness writes (Rows.cell): numbers as
    plain decimal text without trailing zeros, dates and times as ISO text."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, (int, decimal.Decimal)):
        return _plain(decimal.Decimal(v))
    if isinstance(v, float):
        return _plain(decimal.Decimal(repr(v)))
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [canonical(x) for x in v]
    return str(v)


def _plain(d):
    d = d.normalize()
    return "0" if d == 0 else format(d, "f")


def connect():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def check_sql_read(sf_dir, plan, answers):
    """Compares every recorded answer with DuckDB; returns {op id: error}."""
    con = connect()
    for t in ["region", "nation", "customer", "supplier", "orders", "lineitem", "events"]:
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    cuts = plan["events_cuts"]
    for v, cut in enumerate(cuts, start=1):
        con.execute(f"CREATE VIEW events_v{v} AS SELECT * FROM events WHERE ts < TIMESTAMP '{cut}'")
    con.execute(f"CREATE VIEW events_v{len(cuts) + 1} AS SELECT * FROM events")
    queries = {q["id"]: q for q in plan["queries"]}
    expected, errors = {}, {}
    for a in answers:
        q = queries[a["query"]]
        if q["duck"] not in expected:
            rows = [[canonical(v) for v in r] for r in con.execute(q["duck"]).fetchall()]
            expected[q["duck"]] = rows if q["ordered"] else sorted(rows, key=json.dumps)
        want = expected[q["duck"]]
        got = a["rows"] if q["ordered"] else sorted(a["rows"], key=json.dumps)
        if got != want:
            errors[a["op"]] = (f"{q['id']} ({q['shape']}, {q['surface']}): "
                               f"got {got[:3]}... ({len(got)} rows), want {want[:3]}... "
                               f"({len(want)} rows)")
    return errors


def oracle_answer(con, sf_dir, sql, cache_dir):
    """The oracle's answer to `sql`. It depends only on the fixture tables
    and the SQL, not on the seed, so it is computed once per build directory
    and kept as a pickled DataFrame keyed on both."""
    key = hashlib.sha256(f"{duckdb.__version__}\n{sf_dir}\n{sql}".encode()).hexdigest()
    path = cache_dir / f"{key}.pkl"
    if path.is_file():
        return pd.read_pickle(path)
    exp = con.execute(sql).fetchdf()
    cache_dir.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(f".{os.getpid()}.tmp")
    exp.to_pickle(tmp)
    os.replace(tmp, path)
    return exp


def check_gates(sf_dir, gates_dir, oracle_sql, cache_dir):
    """Compares each gate's answer with its oracle SQL as exact multisets over
    name-sorted columns; returns {gate: error}."""
    con = connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    errors = {}
    for gate, sql in oracle_sql.items():
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{gates_dir}/{gate}/*.parquet')").fetchdf()
            exp = oracle_answer(con, sf_dir, sql, cache_dir)
        except Exception as e:  # an oracle that cannot run is a failed check
            errors[gate] = f"{type(e).__name__}: {e}"
            continue
        gc, ec = sorted(got.columns), sorted(exp.columns)
        if gc != ec:
            errors[gate] = f"columns differ: got {gc}, oracle {ec}"
            continue
        cols = ", ".join(f'"{c}"' for c in gc)
        con.register("got_", got)
        con.register("exp_", exp)
        extra, missing = (con.execute(
            f"SELECT count(*) FROM ((SELECT {cols} FROM {a}) EXCEPT ALL (SELECT {cols} FROM {b}))"
        ).fetchone()[0] for a, b in (("got_", "exp_"), ("exp_", "got_")))
        if extra or missing or len(got) != len(exp):
            errors[gate] = (f"{extra} extra and {missing} missing rows "
                            f"({len(got)} got, {len(exp)} oracle)")
    return errors
