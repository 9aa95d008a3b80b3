#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Registers each parquet table in <sfDir> as a DuckDB view, runs every SQL
in <verifyOutDir>/oracle_sql.json, and compares against the Spark result
parquet dumped by graft.Verify: columns sorted by name, rows sorted by all
columns, exact value equality (NaN == NaN).
"""
import sys, json, glob, os
import duckdb
import pyarrow.parquet as pq
import pandas as pd
import math


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def eq(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


def main(sf_dir, out_dir):
    con = duckdb.connect()
    for f in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    if not oracles:
        # a registry that lost its queries dumps exactly this; 0 pass and
        # 0 fail must not read as a green gate
        print(f"FAIL: {out_dir}/oracle_sql.json has no oracle entries")
        return 1
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        spark_path = f"{out_dir}/{name}"
        if not os.path.isdir(spark_path):
            print(f"FAIL {name}: spark output missing")
            n_fail += 1
            continue
        try:
            got = canon(pq.read_table(spark_path).to_pandas())
            want = canon(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(want.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(want.columns)}")
            n_fail += 1
            continue
        if len(got) != len(want):
            print(f"FAIL {name}: rows {len(got)} != {len(want)}")
            n_fail += 1
            continue
        bad = None
        for i in range(len(got)):
            for c in got.columns:
                if not eq(got[c].iloc[i], want[c].iloc[i]):
                    bad = (i, c, got[c].iloc[i], want[c].iloc[i])
                    break
            if bad:
                break
        if bad:
            print(f"FAIL {name}: row {bad[0]} col {bad[1]}: spark={bad[2]!r} duck={bad[3]!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
