"""Output checks for the analytics workloads.

Each query's result (dumped by the harness as one parquet directory) is
compared with the query's DuckDB oracle SQL (`SparkEntry.oracleSql`) run over
the same generated tables. The compare is order-insensitive and exact, like
tools/check.py: columns sorted by name, rows sorted, values equal after the
same normalization on both sides (tz dropped from timestamps, integral floats
read as ints, bools as ints). Oracle hashes are cached per seed.
"""
import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        return int(v) if v.is_integer() else v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), canon(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def table_hash(tab):
    """Order-insensitive hash of a pyarrow table (columns sorted by name)."""
    cols = sorted(tab.column_names)
    data = [tab.column(c).to_pylist() for c in cols]
    rows = sorted((repr(tuple(canon(col[i]) for col in data))
                   for i in range(tab.num_rows)))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"hash": h.hexdigest(), "rows": tab.num_rows, "columns": cols}


def connect(data_dir, tmp):
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def expected(con, cache_dir, name, sql):
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    res = table_hash(con.execute(sql).arrow())
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(res, f)
    os.replace(path + ".tmp", path)
    return res


def check(data_dir, cache_dir, results_dir, oracle_sql):
    """{query: (ok, detail)} for every query that has oracle SQL."""
    out = {}
    con = None
    for name, sql in sorted(oracle_sql.items()):
        try:
            got = table_hash(pq.read_table(os.path.join(results_dir, name)))
            key = hashlib.sha256(sql.encode()).hexdigest()[:16]
            if con is None and not os.path.exists(os.path.join(cache_dir, f"{name}-{key}.json")):
                con = connect(data_dir, os.path.join(cache_dir, "tmp"))
            want = expected(con, cache_dir, name, sql)
            ok = got == want
            out[name] = (ok, "" if ok else
                         f"rows spark={got['rows']} duck={want['rows']} "
                         f"cols spark={got['columns']} duck={want['columns']}")
        except Exception as e:  # a failed compare is a failed check
            out[name] = (False, f"{type(e).__name__}: {e}")
    return out
