"""The board's correctness check: each query's output, written by the
warm-up pass, against its `SparkEntry.oracleSql` run by DuckDB over the
same parquet tables. Outputs are normalised as the repository's
tools/verify_local.py does (columns by name, rows sorted, timestamps in
microseconds) and must match exactly. The normalisation is copied rather
than imported so that a change to tools/ cannot change the benchmark.
"""
import glob
import json
import os

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(sf_dir, out_dir):
    """[(query, ok, why)] for every query listed in oracle_sql.json."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    outcomes = []
    for name, sql in sorted(json.load(open(os.path.join(out_dir, "oracle_sql.json"))).items()):
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            outcomes.append((name, False, "no output"))
            continue
        try:
            got = norm(pd.concat([pd.read_parquet(f) for f in files]))
            want = norm(con.sql(sql).df())
        except Exception as e:  # a failing oracle or unreadable output is a failed check
            outcomes.append((name, False, f"{type(e).__name__}: {e}"))
            continue
        if list(got.columns) != list(want.columns):
            outcomes.append((name, False, f"columns {list(got.columns)} vs {list(want.columns)}"))
        elif len(got) != len(want):
            outcomes.append((name, False, f"rows {len(got)} vs {len(want)}"))
        else:
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
                outcomes.append((name, True, ""))
            except AssertionError as e:
                outcomes.append((name, False, str(e).split("\n")[0]))
    return outcomes
