#!/usr/bin/env python3
"""Local simulation of the driver's correctness gate: run each oracle SQL
in DuckDB over the sf parquet tables and compare against the Spark result
parquet written by graft.Verify. Columns sorted by name, rows sorted by all
columns, exact value comparison (with a float-bits report when not exact).

Usage: python3 tools/check.py <sfDir> <verifyOutDir>
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(os.path.join(sfdir, "*.parquet")):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

n_pass = n_fail = 0
# a result Verify dumped with no oracle entry would otherwise never be
# compared: fail it by name (filtered runs want a fresh <verifyOutDir>)
for name in sorted(os.listdir(outdir)):
    if os.path.isdir(os.path.join(outdir, name)) and name not in oracle:
        print(f"FAIL {name}: result without an oracle_sql.json entry"); n_fail += 1
for name, sql in sorted(oracle.items()):
    respath = os.path.join(outdir, name)
    try:
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(respath + "/*.parquet"))], ignore_index=True)
    except Exception as e:
        print(f"FAIL {name}: no spark result ({e})"); n_fail += 1; continue
    try:
        duck_df = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        print(f"FAIL {name}: columns spark={list(a.columns)} duck={list(b.columns)}"); n_fail += 1; continue
    if len(a) != len(b):
        print(f"FAIL {name}: rows spark={len(a)} duck={len(b)}"); n_fail += 1; continue
    ok = True
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == 'f' or bv.dtype.kind == 'f':
            eq = (av == bv) | (pd.isna(av) & pd.isna(bv))
            if not eq.all():
                i = int(np.argmin(eq))
                try:
                    rd = f"{abs(float(av[i])-float(bv[i]))/max(1e-300,abs(float(bv[i]))):.2e}"
                except Exception:
                    rd = "n/a"
                print(f"FAIL {name}: col {c} row {i}: spark={av[i]!r} duck={bv[i]!r} "
                      f"(reldiff={rd})")
                ok = False
        else:
            try:
                eq = (pd.Series(av).astype(object) == pd.Series(bv).astype(object)) | (pd.isna(av) & pd.isna(bv))
            except Exception:
                eq = pd.Series([x == y for x, y in zip(av, bv)])
            if not eq.all():
                i = int(np.argmin(eq.to_numpy()))
                print(f"FAIL {name}: col {c} row {i}: spark={av[i]!r} duck={bv[i]!r}")
                ok = False
        if not ok:
            break
    if ok:
        # dtype visibility (schema parity), not a failure by itself
        dt_a = {c: str(a[c].dtype) for c in a.columns}
        dt_b = {c: str(b[c].dtype) for c in b.columns}
        note = "" if dt_a == dt_b else f"  [dtypes differ: {[(c, dt_a[c], dt_b[c]) for c in a.columns if dt_a[c] != dt_b[c]]}]"
        print(f"PASS {name} ({len(a)} rows){note}")
        n_pass += 1
    else:
        n_fail += 1

print(f"\n{n_pass} pass / {n_fail} fail")
# comparing nothing proves nothing: an empty oracle_sql.json comes from a
# broken or over-filtered Verify run
if n_pass + n_fail == 0:
    print("FAIL: no query was compared")
sys.exit(1 if n_fail or n_pass == 0 else 0)
