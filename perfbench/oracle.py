"""Compare dumped Spark query outputs with the engine's DuckDB oracles.

`check(tables_dir, out_dir)` registers every `<tables_dir>/*.parquet` as a
DuckDB view named by its file stem, runs each oracle SQL of
`<out_dir>/oracle_sql.json`, and compares the result with the Spark
output at `<out_dir>/<name>/`: columns sorted by name, rows sorted, exact
equality of every value and of each column's type class. These are the
comparison rules of the repository's own correctness gate.
"""
import glob
import json
import os

import duckdb
import pandas as pd


def _normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _kind(s):
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "other"


def check(tables_dir, out_dir):
    """Returns (number passed, list of failure messages)."""
    spec = os.path.join(out_dir, "oracle_sql.json")
    if not os.path.isfile(spec):
        return 0, []
    con = duckdb.connect()
    for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(spec) as fh:
        oracle = json.load(fh)
    passed, bad = 0, []
    for name, sql in sorted(oracle.items()):
        try:
            want = _normalize(con.sql(sql).df())
            got = _normalize(con.sql(
                f"SELECT * FROM read_parquet('{os.path.join(out_dir, name)}/*.parquet')").df())
        except Exception as e:  # a missing dump or a broken oracle both fail
            bad.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            continue
        if list(want.columns) != list(got.columns) or len(want) != len(got):
            bad.append(f"{name}: shape want {list(want.columns)}x{len(want)} "
                       f"got {list(got.columns)}x{len(got)}")
        elif any(_kind(want[c]) != _kind(got[c]) or not want[c].equals(got[c])
                 for c in want.columns):
            bad.append(f"{name}: values differ from the DuckDB oracle")
        else:
            passed += 1
    return passed, bad
