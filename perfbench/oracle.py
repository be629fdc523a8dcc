"""DuckDB oracle comparison for the benchmark's untimed correctness pass.

The comparison is dev/selfcheck.py's own `compare`: both sides as pandas
DataFrames, columns sorted by name, rows sorted over all columns, then an
exact, dtype-strict frame comparison.
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "dev"))
from selfcheck import TABLES, compare  # noqa: E402


def check(input_dir: str, results_dir: str, sqls: dict) -> dict:
    """{query: None if it matches DuckDB, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(input_dir, t + '.parquet')}'")
    out = {}
    for name, sql in sorted(sqls.items()):
        res = os.path.join(results_dir, name)
        if not os.path.isdir(res):
            out[name] = "MISSING-RESULT (the query failed before its result was written)"
            continue
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:  # noqa: BLE001 - reported as the reason
            out[name] = f"ORACLE-ERROR: {e}"[:300]
            continue
        try:
            got = con.execute(f"SELECT * FROM '{res}/*.parquet'").fetchdf()
            out[name] = compare(got, want)
        except Exception as e:  # noqa: BLE001 - reported as the reason
            out[name] = f"HARNESS-ERROR: {type(e).__name__}: {e}"[:300]
    con.close()
    return out
