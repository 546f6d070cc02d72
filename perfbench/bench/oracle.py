"""Result checks: DuckDB oracle comparison, the same rules as tools/check_oracle.py.

Columns are compared sorted by name; ints and strings exactly, floats
exactly (atol=0) with NaN/null matching NaN/null.
"""
import glob
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def read_result(path):
    """A parquet result (a file, or a directory of part files read in
    name order) as one frame."""
    files = [path] if os.path.isfile(path) else sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output in {path}")
    return pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)


def duck_connection(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/**/*.parquet')"
                        if os.path.isdir(p) else
                        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def save(con, sql, path):
    """Write the DuckDB result of `sql` to `path` (atomically)."""
    con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT PARQUET)")
    os.rename(path + ".tmp", path)


def compare(spark_df, duck_df):
    """None when the frames match, else a one-line reason."""
    s = spark_df[sorted(spark_df.columns)]
    o = duck_df[sorted(duck_df.columns)]
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} vs {list(o.columns)}"
    if len(s) != len(o):
        return f"rows {len(s)} vs {len(o)}"
    for c in s.columns:
        sv, ov = s[c].reset_index(drop=True), o[c].reset_index(drop=True)
        if sv.dtype.kind == "f" or ov.dtype.kind == "f":
            a, b = sv.astype(float).values, ov.astype(float).values
            same = (pd.isna(a) == pd.isna(b)).all() and np.array_equal(
                np.nan_to_num(a), np.nan_to_num(b))
        elif sv.dtype == object:
            same = (sv.fillna("<N>") == ov.fillna("<N>")).all()
        else:
            same = ((sv.isna() == ov.isna()) & (sv.fillna(0) == ov.fillna(0))).all()
        if not same:
            return f"column {c} differs"
    return None
