#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 dev/check_oracle.py <sfDir> <verifyOutDir>
Loads each <name>/ parquet result written by graft.Verify, runs the
matching oracle SQL from oracle_sql.json in DuckDB over the raw tables,
sorts columns by name, and value-compares.

`connect` and `compare` are the gate's two halves; dev/oracle_diff.py
imports them to compare two oracle SQL strings under the same rule.
"""
import json, sys, glob, os
import duckdb
import pandas as pd


def connect(sf_dir):
    """A DuckDB connection with one view per <sfDir>/<table>.parquet."""
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        t = os.path.basename(p).replace(".parquet", "")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare(got, want):
    """The bit-exact rule: None when the frames match, else a failure
    detail. Columns compare by name; floats must be bit-equal (the
    driver hash-compares values) and NaN/None match only each other."""
    got = got[sorted(got.columns)].reset_index(drop=True)
    want = want[sorted(want.columns)].reset_index(drop=True)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    diff_cols = []
    for c in got.columns:
        a, b = got[c], want[c]
        # dtype gate: an int column on one side vs a float column on the
        # other means the ORACLE SQL materialized a float (e.g. DuckDB
        # HUGEINT -> float64 via Arrow) — the driver's typed hash WILL
        # fail even if values are numerically equal (the r11/r12
        # score_percentile_norm lesson). int32-vs-int64 width differences
        # are driver-tolerated and deliberately allowed here.
        if {a.dtype.kind, b.dtype.kind} == {"i", "f"} or \
           {a.dtype.kind, b.dtype.kind} == {"u", "f"}:
            diff_cols.append((c, -2,
                f"dtype gate: {a.dtype} vs {b.dtype}", ""))
            continue
        try:
            if a.dtype.kind in "fc" or b.dtype.kind in "fc":
                ok = (a.astype(float) == b.astype(float)) | (a.isna() & b.isna())
            else:
                ok = (a.astype(str) == b.astype(str)) | (a.isna() & b.isna())
            if not ok.all():
                diff_cols.append((c, int((~ok).sum()), a[~ok].head(3).tolist(), b[~ok].head(3).tolist()))
        except Exception as e:
            diff_cols.append((c, -1, str(e), ""))
    return str(diff_cols) if diff_cols else None


def main(sf_dir, out_dir):
    con = connect(sf_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    fails = 0
    for name, sql in sorted(oracle.items()):
        res_dir = f"{out_dir}/{name}"
        if not os.path.isdir(res_dir):
            print(f"MISS  {name}: no spark result dir"); fails += 1; continue
        try:
            got = pd.read_parquet(res_dir)
            want = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"ERR   {name}: {e}"); fails += 1; continue
        detail = compare(got, want)
        if detail:
            print(f"FAIL  {name}: {detail}"); fails += 1
        else:
            print(f"OK    {name} ({len(got)} rows)")
    print("FAILURES:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
