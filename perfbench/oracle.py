"""DuckDB oracle for the registry workload's outputs.

Each query the run executed left its Spark result as a parquet directory
plus its oracle SQL (`oracle_sql.json`, from `SparkEntry.oracleSql`).
DuckDB runs the oracle SQL over the same input tables, and the two frames
are compared the way `tools/oracle_check.py` compares them: columns by
name, rows in canonical order, an md5 over the rows with floats at six
significant digits.
"""
import json
import os
import sys

import duckdb
import pandas as pd


def check(root, data_dir, out_dir):
    """Returns (matched, mismatched, notes) over the queries in out_dir."""
    path = os.path.join(out_dir, "oracle_sql.json")
    if not os.path.exists(path):
        return 0, 0, []
    sys.path.insert(0, os.path.join(root, "tools"))
    from oracle_check import TABLES, canon, frame_hash

    def fingerprint(df):
        df = canon(df)
        return list(df.columns), len(df), frame_hash(df)

    with open(path) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    ok, bad, notes = 0, 0, []
    for name, sql in sorted(oracle.items()):
        try:
            got = fingerprint(pd.read_parquet(os.path.join(out_dir, name)))
            want = fingerprint(con.execute(sql).fetchdf())
        except Exception as e:  # a query the oracle cannot compare is a failure
            bad += 1
            notes.append(f"oracle {name}: {e}")
            continue
        if got == want:
            ok += 1
        else:
            bad += 1
            notes.append(f"oracle {name}: spark {got[:2]} vs duckdb {want[:2]}")
    con.close()
    return ok, bad, notes
