#!/usr/bin/env python3
"""Pins the catalog workload's expected outputs, after checking each one
against its DuckDB oracle.

    python3 perfbench/pin.py

Runs every catalog query on the benchmark's documents table, compares each
output row for row with the query's oracle SQL (SparkEntry.oracleSql) run
by DuckDB on the same table, and only if all agree writes their digests to
perfbench/pins.json. Rerun it when the documents table or a query's
intended output changes; never to make a failing run pass.
"""
import json
import os
import shutil
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def canon(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def rows(cols, data):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon(r[i]) for i in order) for r in data)


def main():
    os.makedirs(run.OUT, exist_ok=True)
    run.build()
    work = os.path.join(run.OUT, "pin")
    shutil.rmtree(work, ignore_errors=True)
    run.run_jvm(work, ["--pin", work], timeout=900)
    oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
    digests = json.load(open(os.path.join(work, "digests.json")))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{work}/documents.parquet/*.parquet'")
    bad = 0
    for q, sql in sorted(oracle.items()):
        got = con.sql(f"SELECT * FROM '{work}/out/{q}/*.parquet'")
        want = con.sql(sql).arrow()
        g = rows(got.columns, got.fetchall())
        w = rows(want.column_names,
                 [tuple(d[c] for c in want.column_names) for d in want.to_pylist()])
        ok = sorted(got.columns) == sorted(want.column_names) and g == w
        print(f"{'ok  ' if ok else 'FAIL'} {q}: {len(g)} rows (oracle {len(w)})")
        bad += not ok
    if bad:
        sys.exit(f"{bad} queries disagree with their oracle; pins not written")
    path = os.path.join(run.HERE, "pins.json")
    with open(path, "w") as fh:
        json.dump(digests, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {os.path.relpath(path, run.ROOT)}")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
