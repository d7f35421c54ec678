"""Result check for query_suite: every query's cold-pass output must equal
its DuckDB oracle SQL (`SparkEntry.oracleSql`) run over the same generated
tables, compared as sorted rows over sorted columns, exactly."""
import glob
import json
import os

import duckdb
import pandas as pd


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check(tables_dir, work):
    """Returns (queries checked, list of failure messages)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{work}/duckdb'")
    for p in glob.glob(f"{tables_dir}/*.parquet"):
        con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    checked, bad = 0, []
    for name, sql in sorted(oracle.items()):
        checked += 1
        files = glob.glob(f"{work}/results/{name}/*.parquet")
        if not sql:
            bad.append(f"{name}: no oracle SQL")
            continue
        if not files:
            bad.append(f"{name}: no result written")
            continue
        try:
            got = _canon(con.sql(f"SELECT * FROM read_parquet({files!r})").df())
            want = _canon(con.sql(sql).df())
            if list(got.columns) != list(want.columns) or got.shape != want.shape:
                bad.append(f"{name}: shape {got.shape} vs oracle {want.shape}")
                continue
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except Exception as e:  # a crash in either engine counts as a mismatch
            bad.append(f"{name}: {type(e).__name__} {str(e).splitlines()[-1][:200] if str(e) else ''}")
    return checked, bad
