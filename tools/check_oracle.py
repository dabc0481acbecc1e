#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate — dtype-strict.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [q1,q2,...]

Judges the queries the Verify run selected (its selected.json; every
query when absent), narrowed further by the optional third argument.
A selected query without output is a FAIL; the others count as not
selected.

Loads each <name>.parquet written by graft.Verify, runs the matching SQL from
oracle_sql.json in DuckDB over the base tables of <sfDir>, and compares
BOTH pandas dtypes and exact values (columns sorted by name, rows sorted).
The r2 lesson: a string-canonicalized compare prints `1` for int32/int64/
float64 alike, so it reported green on rows the driver's typed hash failed.
"""
import json, sys, math
import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_val(v):
    """Exact-value canonical form: no rounding, no str() flattening."""
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, np.ndarray):
        return tuple(canon_val(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(canon_val(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon_val(x)) for k, x in v.items()))
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def norm_dtype(dt):
    """Driver's typed hash (observed r2): int-vs-float mismatches FAIL,
    integer-width mismatches (int8/int32/int64) pass. Mirror that."""
    if dt.startswith(("int", "uint")):
        return "int"
    if dt.startswith("float"):
        return "float"
    return dt


def canon_df(df):
    cols = sorted(df.columns, key=lambda c: c.lower())
    dtypes = [norm_dtype(str(df[c].dtype)) for c in cols]
    rows = [tuple(canon_val(v) for v in row)
            for row in df[cols].itertuples(index=False, name=None)]
    rows.sort(key=repr)
    return [c.lower() for c in cols], dtypes, rows


def main(sf_dir, out_dir, only=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    try:
        selected = set(json.load(open(f"{out_dir}/selected.json")))
    except FileNotFoundError:
        selected = set(oracle)
    if only:
        selected &= only
    n_skip = len(set(oracle) - selected)
    oracle = {k: v for k, v in oracle.items() if k in selected}
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            got_cols, got_dt, got = canon_df(
                con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df())
            want_cols, want_dt, want = canon_df(con.sql(sql).df())
            if got_cols != want_cols:
                print(f"FAIL {name}: columns {got_cols} vs {want_cols}")
                n_bad += 1
            elif got_dt != want_dt:
                diff = [(c, a, b) for c, a, b
                        in zip(got_cols, got_dt, want_dt) if a != b]
                print(f"FAIL {name}: dtypes spark-vs-oracle {diff}")
                n_bad += 1
            elif got != want:
                want_set = set(map(repr, want))
                got_set = set(map(repr, got))
                extra = [r for r in got if repr(r) not in want_set][:2]
                missing = [r for r in want if repr(r) not in got_set][:2]
                print(f"FAIL {name}: rows {len(got)} vs {len(want)}; "
                      f"extra={extra} missing={missing}")
                n_bad += 1
            else:
                print(f"ok   {name} ({len(got)} rows)")
                n_ok += 1
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} failed, {n_skip} not selected")
    return 1 if n_bad else 0


if __name__ == "__main__":
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], only))
