"""Output check of one run: each oracled query's cold-pass result must equal
its DuckDB `oracleSql` on the same input tables, canonicalized by the
repo's correctness gate (scripts/check_correctness.py: columns by name,
floats at 6 decimals, timestamps as strings, rows sorted). Queries without
an oracle are checked by the harness only: every pass must reproduce the
cold pass's digest and row count."""
import json
import os
import sys

import duckdb


def oracle_failures(root, data_dir, check_dir, names):
    """{query: reason} for every query in `names` whose checked output is
    missing or differs from its oracle. Queries without an oracle pass."""
    sys.path.insert(0, os.path.join(root, "scripts"))
    from check_correctness import canon

    oracles = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for f in os.listdir(data_dir):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, f)}'")
    bad = {}
    for name in names:
        out = os.path.join(check_dir, name)
        if not os.path.isdir(out):
            bad[name] = "no checked output"
            continue
        if name not in oracles:
            continue
        try:
            a = canon(con.execute(f"SELECT * FROM '{out}/*.parquet'").df())
            b = canon(con.execute(oracles[name]).df())
        except Exception as e:  # an oracle that cannot run is a failure
            bad[name] = f"oracle error: {e}"
            continue
        if list(a.columns) != list(b.columns):
            bad[name] = f"columns {list(a.columns)} != {list(b.columns)}"
        elif len(a) != len(b):
            bad[name] = f"rows {len(a)} != {len(b)}"
        elif not a.equals(b):
            bad[name] = "values differ"
    con.close()
    return bad
