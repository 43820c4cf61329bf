"""Oracle check of the benchmark: compares a query's output with the
DuckDB result of its `SparkEntry.oracleSql` twin.

Rows are canonicalized as `scripts/check.py` does (columns sorted by
name, rows sorted by every column) and reduced to a digest that also
covers each column's DuckDB type. Two results have the same digest
exactly when check.py's exact compare (no float tolerance, -0.0 distinct
from 0.0, NaN equal to NaN) finds no schema, type, row-count or value
mismatch. The testdata is fixed, so oracle digests are computed once and
committed in `reference.json`, keyed by a hash of the oracle SQL; a
query whose oracle SQL changed is recomputed at run time.
"""
import glob
import hashlib
import json
import math
import os
import threading

import duckdb


def _key(x):
    # check.py's sort key: -0.0 sorts beside 0.0, sign bit breaks the tie
    if isinstance(x, float):
        sign = 0.0 if math.isnan(x) else math.copysign(1.0, x)
        return (str(x + 0.0), sign)
    return (str(x), 0.0)


def _token(x):
    # equal tokens <=> check.py's eq(): floats compare by repr (exact
    # round trip, keeps the sign of zero, nan == nan); other values by str
    if x is None:
        return "N"
    if isinstance(x, float):
        return "f" + repr(x)
    return "s" + str(x)


def digest(rows, cols, types):
    """Digest of a result: sorted column names, their types, and the
    canonically sorted rows."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(r[i] for i in idx) for r in rows),
                 key=lambda r: tuple(_key(x) for x in r))
    h = hashlib.sha256()
    h.update(json.dumps([[cols[i], types.get(cols[i])] for i in idx]).encode())
    for r in out:
        h.update(("\x1e".join(_token(x) for x in r) + "\n").encode())
    return {"digest": h.hexdigest(), "rows": len(out)}


def sql_sha(sql):
    return hashlib.sha256(sql.encode()).hexdigest()


def connect(data_dir):
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def oracle_digest(con, sql, timeout_s=900.0):
    """Run one oracle query under a wall-clock cap (check.py's guard)."""
    timer = threading.Timer(timeout_s, con.interrupt)
    timer.start()
    try:
        rel = con.sql(sql)
        rows, cols = rel.fetchall(), rel.columns
    finally:
        timer.cancel()
    types = {r[0]: r[1] for r in con.sql("DESCRIBE " + sql).fetchall()}
    return digest(rows, cols, types)


def output_digest(con, out_dir):
    """Digest of a Spark output written as parquet files in `out_dir`."""
    src = f"'{out_dir}/*.parquet'"
    rel = con.sql(f"SELECT * FROM {src}")
    rows, cols = rel.fetchall(), rel.columns
    types = {r[0]: r[1] for r in con.sql(f"DESCRIBE SELECT * FROM {src}").fetchall()}
    return digest(rows, cols, types)
