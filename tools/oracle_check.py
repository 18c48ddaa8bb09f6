#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage:
    sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/vq"
    python3 tools/oracle_check.py /root/testdata/sf0.01 /tmp/vq

For every query dumped by graft.Verify: run its oracle SQL in DuckDB
against the same parquet tables, sort columns by name and rows by value,
and compare (floats atol 1e-9). Dev-only tool — the library itself never
uses python/duckdb.
"""
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(repr(v))
        out.append(tuple(vals))
    return sorted(out), [cols[i] for i in order]


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracles.items()):
        try:
            spark = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
            s_cols = [d[0] for d in spark.description]
            s_rows, s_cols_sorted = canon(spark.fetchall(), s_cols)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark dump unreadable: {e}")
            n_bad += 1
            continue
        try:
            oracle = con.execute(sql)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_bad += 1
            continue
        o_cols = [d[0] for d in oracle.description]
        o_rows, o_cols_sorted = canon(oracle.fetchall(), o_cols)
        if s_cols_sorted != o_cols_sorted:
            print(f"FAIL {name}: columns {s_cols_sorted} != {o_cols_sorted}")
            n_bad += 1
        elif s_rows != o_rows:
            diff = [(a, b) for a, b in zip(s_rows, o_rows) if a != b]
            print(f"FAIL {name}: {len(s_rows)} vs {len(o_rows)} rows; "
                  f"first diffs: {diff[:3]}")
            n_bad += 1
        else:
            print(f"ok   {name} ({len(s_rows)} rows)")
            n_ok += 1
    print(f"== {n_ok} ok, {n_bad} fail")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
