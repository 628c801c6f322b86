#!/usr/bin/env python3
"""Local preflight replicating the driver's DuckDB-oracle compare.

Usage: tools/check.py [sfDir] [outDir] [only_query ...]
       tools/check.py --against OTHER_VERIFY_DIR outDir [only_query ...]

Assumes `sbt "runMain graft.Verify <sfDir> <outDir>"` already populated
outDir with <name>/ parquet dirs + oracle_sql.json. For each query:
register the sf tables as DuckDB views, run the oracle SQL, load the
Spark result parquet, sort columns by name, sort rows, compare exactly.

With --against, no oracle runs: every query result in outDir is
compared the same way, cell by cell, with the one in another Verify
output directory (say, of the parent commit), rows-only queries
included. A query missing from either directory fails.
"""
import json, math, os, sys, glob

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def cells_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame,
            labels=("spark", "oracle")) -> bool:
    ls, lo = labels
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        print(f"FAIL {name}: columns {ls}={sorted(spark_df.columns)} {lo}={sorted(oracle_df.columns)}")
        return False
    if len(spark_df) != len(oracle_df):
        print(f"FAIL {name}: rows {ls}={len(spark_df)} {lo}={len(oracle_df)}")
        return False
    s, o = norm(spark_df), norm(oracle_df)
    # The driver's hash compare is dtype-sensitive (e.g. a DuckDB
    # windowed SUM widens to HUGEINT -> float64 while Spark emits
    # int64; values equal, hash differs — the r6 q80 failure class).
    # Fail locally on any dtype drift so it can't reach the driver.
    # Integer WIDTH differences (int32 vs int64) pass the driver hash
    # (q48 was green in r6 with int32 day_of_week) — canonicalize those;
    # only KIND drift (int vs float/object) is the real failure class.
    def canon(t):
        t = str(t)
        return "int64" if t in ("int8", "int16", "int32", "int64",
                                "uint8", "uint16", "uint32", "uint64") else t
    dt_s = [canon(t) for t in s.dtypes]
    dt_o = [canon(t) for t in o.dtypes]
    if dt_s != dt_o:
        diff = {c: (a, b) for c, a, b in zip(s.columns, dt_s, dt_o) if a != b}
        print(f"FAIL {name}: dtype mismatch (driver hash is dtype-sensitive): {diff}")
        return False
    for col in s.columns:
        sv, ov = s[col].tolist(), o[col].tolist()
        for i, (a, b) in enumerate(zip(sv, ov)):
            if not cells_equal(a, b):
                print(f"FAIL {name}: col={col} row={i}: {ls}={a!r} {lo}={b!r}")
                return False
    print(f"OK   {name} ({len(s)} rows)")
    return True


def read_result(con, out: str, name: str) -> pd.DataFrame:
    return con.sql(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").df()


def results(out: str) -> set:
    return {os.path.basename(os.path.dirname(f)) for f in glob.glob(f"{out}/*/*.parquet")}


def against(other: str, out: str, only: set):
    con = duckdb.connect()
    mine, theirs = results(out), results(other)
    n_ok = n_fail = 0
    for name in sorted(only or mine | theirs):
        missing = [d for d, have in ((out, mine), (other, theirs)) if name not in have]
        if missing:
            print(f"FAIL {name}: no result in {' or '.join(missing)}")
            n_fail += 1
        elif compare(name, read_result(con, out, name), read_result(con, other, name),
                     labels=("this", "other")):
            n_ok += 1
        else:
            n_fail += 1
    print(f"== {n_ok} ok, {n_fail} fail ==")
    return 1 if n_fail else 0


def main():
    if sys.argv[1:2] == ["--against"]:
        sys.exit(against(sys.argv[2], sys.argv[3], set(sys.argv[4:])))
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        # Driver testdata is a single file per table; Spark-written
        # (e.g. GenScale sf1) tables are directories of part files.
        path = f"{sf}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    with open(f"{out}/oracle_sql.json") as f:
        oracles = json.load(f)
    n_ok = n_fail = 0
    for name in sorted(oracles):
        if only and name not in only:
            continue
        files = glob.glob(f"{out}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark result parquet in {out}/{name}")
            n_fail += 1
            continue
        spark_df = read_result(con, out, name)
        try:
            oracle_df = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        if compare(name, spark_df, oracle_df):
            n_ok += 1
        else:
            n_fail += 1
    print(f"== {n_ok} ok, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
