"""Compare written Spark results with their DuckDB oracles.

usage: python3 oracle.py <data_dir> <results_dir>

<results_dir> holds one parquet dir per query key and oracle_sql.json
({key: sql}). Each oracle runs in DuckDB over the parquet tables of
<data_dir>; both sides are compared as sorted row sets with exact
equality. Exits 1 if any key differs.
"""
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def same(s, d):
    if list(s.columns) != list(d.columns) or len(s) != len(d):
        return False
    for c in s.columns:
        a, b = s[c], d[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            eq = np.isclose(a, b, rtol=0, atol=0, equal_nan=True)
        else:
            eq = ((a.astype(object).where(pd.notna(a), None)
                   == b.astype(object).where(pd.notna(b), None))
                  | (pd.isna(a) & pd.isna(b)))
        if not eq.all():
            return False
    return True


def main(data, results):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, f)}')")
    oracles = json.load(open(os.path.join(results, "oracle_sql.json")))
    bad = []
    for key, sql in sorted(oracles.items()):
        s = canon(pd.read_parquet(os.path.join(results, key)))
        d = canon(con.execute(sql).fetchdf())
        if not same(s, d):
            bad.append(f"{key}: spark {len(s)} rows, oracle {len(d)} rows")
    for b in bad:
        print(f"mismatch {b}")
    print(f"{len(oracles) - len(bad)}/{len(oracles)} keys match their oracle")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
