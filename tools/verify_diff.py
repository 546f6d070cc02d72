#!/usr/bin/env python3
"""Compare two graft.Verify output trees key by key.

usage: tools/verify_diff.py <expected_dir> <actual_dir>

A Verify tree holds one parquet directory per query key plus
oracle_sql.json. Two trees match when they hold the same keys, each
key's parquet schema is equal (names, types, nullability and Spark's
row metadata), and its rows are equal in order. Every other file at
the top (oracle_sql.json) must be byte-identical.

Exits 1 at the first difference and names the key and what differs;
2 on a usage error; 0 with a one-line summary when the trees match.
"""
import math
import os
import sys

import pyarrow.parquet as pq

SPARK_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


def parts(key_dir):
    """The key's parquet files, in the order Spark reads them back."""
    return sorted(os.path.join(key_dir, f) for f in os.listdir(key_dir)
                  if f.endswith(".parquet") and not f.startswith((".", "_")))


def schema_of(files):
    """(arrow schema without metadata, Spark's schema JSON) of the first file."""
    if not files:
        return None
    s = pq.read_schema(files[0])
    return s.remove_metadata(), (s.metadata or {}).get(SPARK_SCHEMA)


def rows_of(files):
    out = []
    for f in files:
        out.extend(pq.read_table(f).to_pylist())
    return out


def same_value(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same_value(a[k], b[k]) for k in a)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same_value(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


def diff_key(key, exp_dir, act_dir):
    """None when the key matches, else a description of the first difference."""
    exp_files, act_files = parts(exp_dir), parts(act_dir)
    exp_schema, act_schema = schema_of(exp_files), schema_of(act_files)
    if (exp_schema is None) != (act_schema is None):
        return f"{len(exp_files)} parquet files expected, {len(act_files)} found"
    if exp_schema is None:
        return None
    if not exp_schema[0].equals(act_schema[0]):
        return f"schema differs:\n  expected {exp_schema[0]}\n  actual   {act_schema[0]}"
    if exp_schema[1] != act_schema[1]:
        return f"Spark schema differs:\n  expected {exp_schema[1]}\n  actual   {act_schema[1]}"
    exp_rows, act_rows = rows_of(exp_files), rows_of(act_files)
    for i, (a, b) in enumerate(zip(exp_rows, act_rows)):
        if not same_value(a, b):
            return f"row {i} differs:\n  expected {a}\n  actual   {b}"
    if len(exp_rows) != len(act_rows):
        return f"{len(exp_rows)} rows expected, {len(act_rows)} found"
    return None


def entries(d):
    keys = {e for e in os.listdir(d) if os.path.isdir(os.path.join(d, e))}
    files = {e for e in os.listdir(d) if os.path.isfile(os.path.join(d, e))}
    return keys, files


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    exp, act = argv[1], argv[2]
    (exp_keys, exp_files), (act_keys, act_files) = entries(exp), entries(act)
    for name, missing in (("missing", exp_keys - act_keys), ("unexpected", act_keys - exp_keys)):
        if missing:
            print(f"DIFF {sorted(missing)[0]}: key {name} ({len(missing)} such keys)")
            return 1
    for f in sorted(exp_files | act_files):
        a, b = os.path.join(exp, f), os.path.join(act, f)
        if not (os.path.isfile(a) and os.path.isfile(b)):
            print(f"DIFF {f}: file present on one side only")
            return 1
        with open(a, "rb") as fa, open(b, "rb") as fb:
            if fa.read() != fb.read():
                print(f"DIFF {f}: bytes differ")
                return 1
    for key in sorted(exp_keys):
        problem = diff_key(key, os.path.join(exp, key), os.path.join(act, key))
        if problem:
            print(f"DIFF {key}: {problem}")
            return 1
    print(f"OK {len(exp_keys)} keys row-identical, schemas equal; "
          f"{len(exp_files)} files byte-identical")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
