#!/usr/bin/env python3
"""Compare a `graft.Verify` dump against DuckDB and print the scoreboard.

    sbt -batch "runMain graft.Verify /path/to/sf0.01 /tmp/verify-out"
    python3 scripts/oracle_compare.py /path/to/sf0.01 /tmp/verify-out [--json out.json]

Every query the dump holds gets one row. A query with SQL in
`oracle_sql.json` is SQL-backed: DuckDB runs the SQL over views of the
scale factor's parquet tables, and both results are compared with their
columns sorted by name and their rows sorted by every column, exactly
(floats included). A query without SQL is rows-only: its row count is
reported and nothing is compared. The exit status is 1 when any
SQL-backed query fails or errs, else 0.
"""

import argparse
import glob
import json
import os
import sys

import duckdb
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def normalized(df):
    """Columns sorted by name, datetimes at ns, rows sorted by all columns."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[ns]")
    if len(df.columns) and len(df):
        df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


def compare(con, name, sql, out_dir):
    files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
    row = {"rows_match": None, "schema_match": None, "hash_match": None,
           "spark_rows": None, "oracle_rows": None, "err": None}
    if not files:
        row["err"] = "no_spark_output"
        return row
    spark = con.execute(
        f"SELECT * FROM read_parquet('{os.path.join(out_dir, name)}/*.parquet')").df()
    row["spark_rows"] = len(spark)
    if sql is None:
        row["err"] = "no_oracle"
        return row
    try:
        oracle = con.execute(sql).df()
    except Exception as e:  # the oracle SQL itself failed
        row["err"] = f"oracle_error: {e}".splitlines()[0]
        return row
    row["oracle_rows"] = len(oracle)
    row["rows_match"] = len(spark) == len(oracle)
    row["schema_match"] = sorted(spark.columns) == sorted(oracle.columns)
    if row["schema_match"] and row["rows_match"]:
        try:
            pd.testing.assert_frame_equal(normalized(spark), normalized(oracle),
                                          check_dtype=False, check_exact=True)
            row["hash_match"] = True
        except (AssertionError, TypeError, ValueError):
            row["hash_match"] = False
    else:
        row["hash_match"] = False
    return row


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("sf_dir")
    ap.add_argument("verify_out")
    ap.add_argument("--json", help="also write the per-query verdicts here")
    a = ap.parse_args()
    with open(os.path.join(a.verify_out, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(a.sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    names = sorted(set(oracle_sql) | {
        d for d in os.listdir(a.verify_out) if os.path.isdir(os.path.join(a.verify_out, d))})
    board = {n: compare(con, n, oracle_sql.get(n), a.verify_out) for n in names}

    print(f"{'query':34} {'verdict':8} {'spark':>7} {'oracle':>7}  note")
    exact = rows_only = failed = 0
    for n, r in board.items():
        if r["err"] == "no_oracle":
            verdict, rows_only = "ROWS", rows_only + 1
        elif r["err"] is None and r["hash_match"]:
            verdict, exact = "OK", exact + 1
        else:
            verdict, failed = "FAIL", failed + 1
        note = r["err"] or ("" if verdict == "OK" else
                            f"rows={r['rows_match']} schema={r['schema_match']} values={r['hash_match']}")
        show = lambda v: "-" if v is None else str(v)
        print(f"{n:34} {verdict:8} {show(r['spark_rows']):>7} {show(r['oracle_rows']):>7}  {note}")
    print(f"\n{len(board)} queries: {exact} SQL-backed value-exact, {rows_only} rows-only, "
          f"{failed} failed")
    if a.json:
        with open(a.json, "w") as f:
            json.dump(board, f, indent=2)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
