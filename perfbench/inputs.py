"""Input tables of a run. The program reads them as a testdata directory:
one single-file parquet per table (the streaming rigs list files and do
not recurse into directory-shaped tables)."""
import os
import shutil

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))

# events is the repo's sf0.1 testdata table (100k rows), committed as is.
EVENTS = os.path.join(HERE, "data", "events.parquet")

# lineitem (600k rows at sf0.1, 10.8 MB of parquet) is regenerated with
# DuckDB's TPC-H dbgen rather than committed; the columns and types are
# those of the sf0.1 testdata's lineitem.
LINEITEM_SQL = """
SELECT l_orderkey::BIGINT AS l_orderkey, l_partkey::BIGINT AS l_partkey,
       l_suppkey::BIGINT AS l_suppkey, l_linenumber::INTEGER AS l_linenumber,
       l_quantity::DOUBLE AS l_quantity,
       l_extendedprice::DOUBLE AS l_extendedprice,
       l_discount::DOUBLE AS l_discount, l_tax::DOUBLE AS l_tax,
       l_returnflag, l_linestatus, l_shipdate::TIMESTAMP AS l_shipdate
FROM lineitem ORDER BY l_orderkey, l_linenumber
"""


def prepare(d):
    """Makes (or reuses) the input directory `d` and returns the row count
    of each table in it. The inputs do not depend on the seed."""
    os.makedirs(d, exist_ok=True)
    ev = os.path.join(d, "events.parquet")
    if not os.path.exists(ev):
        shutil.copyfile(EVENTS, ev + ".tmp")
        os.replace(ev + ".tmp", ev)
    li = os.path.join(d, "lineitem.parquet")
    con = duckdb.connect()
    if not os.path.exists(li):
        con.execute("CALL dbgen(sf=0.1)")
        con.execute(f"COPY ({LINEITEM_SQL}) TO '{li}.tmp' (FORMAT PARQUET)")
        os.replace(li + ".tmp", li)
    rows = {t: con.execute(f"SELECT count(*) FROM '{os.path.join(d, t)}.parquet'")
            .fetchone()[0] for t in ("events", "lineitem")}
    con.close()
    return rows
