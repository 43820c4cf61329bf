#!/usr/bin/env python3
"""Recompute `perfbench/reference.json`: the DuckDB oracle digest of every
benchmarked query on the benchmark's fixed test data.

Usage (from the root of the repository):  python3 perfbench/make_reference.py

Only needed when a workload gains a query; a query whose oracle SQL
changes is recomputed by run.py on the fly.
"""
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import duckdb  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def main():
    queries = sorted({q for w in run.WORKLOADS.values() for q in w["queries"]})
    work = os.path.join(run.WORK, "reference")
    os.makedirs(work, exist_ok=True)
    harness = run.Harness(build.build(), work)
    try:
        sql_file = os.path.join(work, "oracle_sql.jsonl")
        harness.send("oracles", sql_file, ",".join(queries))
    finally:
        harness.close()
    sqls = {r["q"]: r["sql"] for r in run.read_records(sql_file)}
    con = oracle.connect(run.DATA)
    out = {}
    for q in queries:
        t = time.time()
        ref = oracle.oracle_digest(con, sqls[q])
        ref["sql_sha256"] = oracle.sql_sha(sqls[q])
        out[q] = ref
        print(f"{q}: {ref['rows']} rows [{time.time() - t:.1f}s]", file=sys.stderr)
    doc = {"data": os.path.basename(os.path.normpath(run.DATA)),
           "duckdb": duckdb.__version__, "queries": out}
    with open(os.path.join(HERE, "reference.json"), "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
