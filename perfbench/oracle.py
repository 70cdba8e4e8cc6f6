"""DuckDB replay of `SparkEntry.oracleSql` over the generated tables.

Compares with the project's own comparator (`tools/driver_check.py`):
Spark side read with pandas, oracle side DuckDB's fetchdf, columns and
rows sorted, values compared dtype-exactly. Returns the keys whose
answer differs, with the reason.
"""
import glob
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from driver_check import canon, col_equal  # noqa: E402


def check(data_dir, verify_dir, oracle_sql):
    """Maps each key with an oracle whose Spark dump disagrees to why."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    bad = {}
    for key, sql in sorted(oracle_sql.items()):
        files = glob.glob(os.path.join(verify_dir, key, "*.parquet"))
        if not files:
            bad[key] = "no spark dump"
            continue
        try:
            sdf = canon(pd.concat([pd.read_parquet(f) for f in files]))
            odf = canon(con.execute(sql).fetchdf())
        except Exception as e:  # a failing side is a wrong answer
            bad[key] = f"{type(e).__name__}: {e}"[:300]
            continue
        if list(sdf.columns) != list(odf.columns):
            bad[key] = f"columns {list(sdf.columns)} vs {list(odf.columns)}"
        elif len(sdf) != len(odf):
            bad[key] = f"rows {len(sdf)} vs {len(odf)}"
        else:
            cols = [c for c in sdf.columns if not col_equal(sdf[c], odf[c])]
            if cols:
                bad[key] = f"values differ in {cols}"
    con.close()
    return bad
