#!/usr/bin/env python3
"""Local pre-flight mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For each query result parquet written by graft.Verify, runs the
matching oracle SQL in DuckDB over views of the sfDir tables, sorts
columns by name, and compares schema + values (exact for
ints/strings, tiny epsilon report for floats so we can see how close
hash-matching would be).
"""
import sys, json, glob, os
import duckdb
import pyarrow.parquet as pq
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def memory_limit():
    """DuckDB's memory cap: a quarter of this machine's RAM, at least
    1 GiB. DuckDB's own default (80% of RAM) would take most of a box
    that other jobs share."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1 << 30, ram // 4) >> 20}MB"

def main(sf_dir, out_dir):
    con = duckdb.connect(config={"memory_limit": memory_limit()})
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = n_noracle = 0
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = d.rstrip("/").split("/")[-1]
        files = glob.glob(f"{d}/*.parquet")
        if not files:
            print(f"FAIL {name}: no parquet output"); n_fail += 1; continue
        spark_df = pq.read_table(files[0]).to_pandas()
        if name not in oracle:
            print(f"SKIP {name}: no oracle (rows={len(spark_df)})"); n_noracle += 1; continue
        try:
            duck_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}"); n_fail += 1; continue
        s = spark_df[sorted(spark_df.columns)]
        o = duck_df[sorted(duck_df.columns)]
        if list(s.columns) != list(o.columns):
            print(f"FAIL {name}: columns {list(s.columns)} vs {list(o.columns)}"); n_fail += 1; continue
        if len(s) != len(o):
            print(f"FAIL {name}: rows {len(s)} vs {len(o)}"); n_fail += 1; continue
        ok = True
        for c in s.columns:
            sv, ov = s[c], o[c]
            if str(sv.dtype) != str(ov.dtype):
                print(f"  WARN {name}.{c}: dtype {sv.dtype} vs {ov.dtype}")
            try:
                if sv.dtype.kind == "f" or ov.dtype.kind == "f":
                    import numpy as np
                    a, b = sv.astype(float).values, ov.astype(float).values
                    nan_eq = pd.isna(a) == pd.isna(b)
                    close = nan_eq.all() and np.allclose(
                        np.nan_to_num(a), np.nan_to_num(b), rtol=0, atol=0)
                    if not close:
                        exact = (pd.Series(a).fillna(-1) == pd.Series(b).fillna(-1))
                        bad = (~exact).to_numpy().nonzero()[0][:3]
                        print(f"FAIL {name}.{c}: float mismatch rows {bad.tolist()} "
                              f"spark={a[bad].tolist()} duck={b[bad].tolist()}")
                        ok = False
                else:
                    eq = (sv.fillna("<N>") == ov.fillna("<N>")) if sv.dtype == object \
                        else (sv.isna() == ov.isna()) & (sv.fillna(0) == ov.fillna(0))
                    if not eq.all():
                        bad = (~eq).to_numpy().nonzero()[0][:3]
                        print(f"FAIL {name}.{c}: mismatch rows {bad.tolist()} "
                              f"spark={sv.iloc[bad].tolist()} duck={ov.iloc[bad].tolist()}")
                        ok = False
            except Exception as e:
                print(f"FAIL {name}.{c}: compare error {e}"); ok = False
        if ok:
            print(f"PASS {name} ({len(s)} rows)"); n_pass += 1
        else:
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} no-oracle")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
