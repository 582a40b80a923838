"""DuckDB oracle check for the Presto read statements.

The harness writes each read statement's result once, outside the timed
rounds, to <run>/check/<name>/ as Parquet, and to <run>/oracle.json the
directory of the generated tables and each statement's oracle SQL. This
module runs every oracle SQL in DuckDB over the same tables and compares:
columns sorted by name, rows sorted by all values, numbers to 1e-9.
"""
import glob
import json
import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def compare(run_dir):
    """Returns {statement name: failure} for every statement that fails."""
    import duckdb
    import pandas as pd

    with open(os.path.join(run_dir, "oracle.json")) as f:
        spec = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{spec['data']}/{t}.parquet/*.parquet'")
    failures = {}
    for name, sql in sorted(spec["queries"].items()):
        files = glob.glob(os.path.join(run_dir, "check", name, "*.parquet"))
        if not files:
            failures[name] = "no result written"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if not sql:
            if len(got) == 0:
                failures[name] = "empty result"
            continue
        try:
            want = con.execute(sql).fetchdf()
        except Exception as e:  # the oracle itself must run
            failures[name] = f"oracle error: {e}"
            continue
        g, w = _canon(got), _canon(want)
        if list(g.columns) != list(w.columns):
            failures[name] = f"columns {list(g.columns)} vs oracle {list(w.columns)}"
        elif len(g) != len(w):
            failures[name] = f"rows {len(g)} vs oracle {len(w)}"
        else:
            try:
                pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=False,
                                              rtol=1e-9, atol=1e-9)
            except AssertionError as e:
                failures[name] = f"values differ: {str(e)[:300]}"
    con.close()
    return failures
