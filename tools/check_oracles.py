#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check_oracles.py <sfDir> <verifyOutDir> [query...]

Loads each <verifyOutDir>/<name> parquet (Spark output), runs the oracle SQL
from oracle_sql.json in DuckDB with the sfDir tables registered as views,
sorts columns by name and rows by all columns, and compares column dtypes,
then cell-by-cell (exact for non-floats, 1e-9 tolerance for floats).
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

def canon(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)
    return df

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        if only and name not in only:
            continue
        res_dir = f"{out_dir}/{name}"
        if not glob.glob(f"{res_dir}/*.parquet"):
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            spark_df = canon(con.execute(
                f"SELECT * FROM read_parquet('{res_dir}/*.parquet')").df())
            oracle_df = canon(con.execute(sql).df())
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        if list(spark_df.columns) != list(oracle_df.columns):
            print(f"FAIL {name}: columns {list(spark_df.columns)} vs {list(oracle_df.columns)}")
            n_fail += 1; continue
        # a hash compare of the results sees column types too: an oracle
        # that widens a BIGINT to HUGEINT (read back as float64) must fail
        types = [(c, str(spark_df[c].dtype), str(oracle_df[c].dtype)) for c in spark_df.columns
                 if spark_df[c].dtype != oracle_df[c].dtype]
        if types:
            print(f"FAIL {name}: dtypes (col, spark, oracle) {types}")
            n_fail += 1; continue
        if len(spark_df) != len(oracle_df):
            print(f"FAIL {name}: rows {len(spark_df)} vs {len(oracle_df)}")
            n_fail += 1; continue
        bad = None
        for c in spark_df.columns:
            a, b = spark_df[c], oracle_df[c]
            if a.dtype.kind == "f" or b.dtype.kind == "f":
                av, bv = a.astype(float).values, b.astype(float).values
                ok = np.isclose(av, bv, rtol=1e-9, atol=1e-9, equal_nan=True)
            else:
                ok = (a.values == b.values) | (pd.isna(a).values & pd.isna(b).values)
            if not ok.all():
                i = int(np.argmin(ok))
                bad = f"col {c} row {i}: spark={a.iloc[i]!r} oracle={b.iloc[i]!r} ({(~ok).sum()} diffs)"
                break
        if bad:
            print(f"FAIL {name}: {bad}"); n_fail += 1
        else:
            print(f"PASS {name} ({len(spark_df)} rows)"); n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
