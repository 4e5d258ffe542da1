#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness compare.

Usage: python3 scripts/check_oracle.py <sfDir> <verifyOutDir> [query ...]

Reads each <out>/<name> parquet (Spark result), runs <out>/oracle_sql.json
in DuckDB over the sf parquet tables, sorts columns by name, normalizes, and
compares row-for-row. Optional query names restrict the compare to those
queries, as `graft.Verify <sfDir> <outDir> [query ...]` restricts the dump;
a name not in oracle_sql.json exits non-zero. With no names every query in
oracle_sql.json is compared.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif s.dtype == object:
            df[c] = s.map(lambda v: str(v) if v is not None else None)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
    return df.reset_index(drop=True)

def main(sf_dir, out_dir, only=()):
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    unknown = sorted(set(only) - set(oracles))
    if unknown:
        sys.exit(f"unknown queries: {', '.join(unknown)}")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    n_pass = n_fail = 0
    for name in sorted(set(only) or oracles):
        sql = oracles[name]
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        try:
            spark_df = norm(pd.concat([pd.read_parquet(f) for f in sorted(files)]))
            duck_df = norm(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"FAIL {name}: cols {list(spark_df.columns)} vs {list(duck_df.columns)}"); n_fail += 1; continue
        if len(spark_df) != len(duck_df):
            print(f"FAIL {name}: rows {len(spark_df)} vs {len(duck_df)}"); n_fail += 1; continue
        if not spark_df.equals(duck_df):
            neq = (spark_df != duck_df) & ~(spark_df.isna() & duck_df.isna())
            bad = neq.any(axis=1)
            print(f"FAIL {name}: {int(bad.sum())}/{len(spark_df)} rows differ; first:")
            print(" spark:", spark_df[bad].head(2).to_dict("records"))
            print(" duck :", duck_df[bad].head(2).to_dict("records"))
            n_fail += 1; continue
        print(f"PASS {name} ({len(spark_df)} rows)"); n_pass += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], sys.argv[3:])
