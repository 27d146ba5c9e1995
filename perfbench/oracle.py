"""DuckDB check of registry results.

Each registry op's oracle SQL runs in DuckDB over the same generated
parquet tables, and the Spark result dumped by the benchmark JVM must match
it cell for cell. The comparison is the repository's own oracle check
(``tools/check_oracle.py``: columns by sorted name, rows in order, exact
cells, NaN equal to NaN, no int matching a float); this module only sets up
the views and loops over the ops.
"""
import glob
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import cell_eq, norm  # noqa: E402


def compare(want: pd.DataFrame, got: pd.DataFrame) -> str:
    """Empty string when equal, else a one-line description of the first
    difference."""
    want, got = norm(want), norm(got)
    if list(want.columns) != list(got.columns):
        return f"columns differ: oracle {list(want.columns)} result {list(got.columns)}"
    if len(want) != len(got):
        return f"row count differs: oracle {len(want)} result {len(got)}"
    for c in want.columns:
        wv, gv = want[c].values, got[c].values
        for i in range(len(want)):
            if not cell_eq(wv[i], gv[i]):
                return f"row {i} column {c}: oracle {wv[i]!r} result {gv[i]!r}"
    return ""


def check(data_dir: str, results_dir: str, oracle_sql: dict) -> dict:
    """Returns {op: error} with an empty error for each matching op."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.splitext(os.path.basename(p))[0]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for op, sql in sorted(oracle_sql.items()):
        try:
            want = con.sql(sql).df()
            parts = sorted(glob.glob(os.path.join(results_dir, op, "*.parquet")))
            got = pd.concat([pd.read_parquet(f) for f in parts], ignore_index=True)
            out[op] = compare(want, got)
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            out[op] = f"{type(e).__name__}: {e}"[:400]
    return out
