#!/usr/bin/env python3
"""Dev helper: compare a SUBSET of queries (dumped by
`graft.Verify <sfDir> <outDir> <name> [<name>…]`) against the oracle SQL that
run wrote to <outDir>/oracle_sql.json — the same canonicalization + dtype
guards as check_correctness.py, without needing a full graft.Verify run.
Usage:
  python3 scripts/check_some.py <sfDir> <outDir> <name> [<name>…]
"""
import json, sys
import duckdb
from check_correctness import canon, dtype_violations, duck_type_violations, TABLES

def main():
    sf_dir, out_dir, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    con = duckdb.connect()
    import os
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    bad = 0
    for name in names:
        sql = oracles.get(name)
        spark_df = duckdb.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
        if sql is None:
            print(f"{name}: NO-ORACLE rows-only ({len(spark_df)} rows)")
            continue
        ora_df = con.execute(sql).df()
        v = (duck_type_violations(con, f"SELECT * FROM '{out_dir}/{name}/*.parquet'", "spark")
             + duck_type_violations(con, sql, "oracle")
             + dtype_violations(spark_df, "spark") + dtype_violations(ora_df, "oracle"))
        a, b = canon(spark_df), canon(ora_df)
        ok = (not v) and list(a.columns) == list(b.columns) and \
             list(map(str, a.dtypes)) == list(map(str, b.dtypes)) and \
             len(a) == len(b) and a.equals(b)
        print(f"{name}: {'OK' if ok else 'FAIL'} rows={len(a)}/{len(b)}"
              + (f" dtype:{v}" if v else ""))
        if not ok:
            bad += 1
            if not v and len(a) == len(b) and list(a.columns) == list(b.columns):
                diff = ((a != b) & ~(a.isna() & b.isna())).any(axis=1)
                print(a[diff].head(3)); print(b[diff].head(3))
    sys.exit(1 if bad else 0)

if __name__ == "__main__":
    sys.path.insert(0, "scripts")
    main()
