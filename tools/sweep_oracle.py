#!/usr/bin/env python3
"""Full-scale oracle sweep with a per-key timeout: same compare as
tools/check_oracle.py, but each oracle runs in its own subprocess with a
time budget so the documented quadratic-at-oracle-side keys surface as
SKIP instead of hanging the sweep.

A key counts OK only when its child exits 0 AND its last stdout line
starts with OK. A matching child closes its DuckDB connection, flushes
stdout and leaves through os._exit(0) right after printing OK, so a
crash in DuckDB's interpreter-exit teardown cannot turn a match into a
failure; every mismatch still exits non-zero."""
import sys, json, glob, subprocess, os

sfdir, outdir, budget = sys.argv[1], sys.argv[2], int(sys.argv[3])
oracle = json.load(open(f"{outdir}/oracle_sql.json"))

CHILD = r'''
import os, sys, json, glob, duckdb, pandas as pd, numpy as np, datetime
sfdir, outdir, name = sys.argv[1], sys.argv[2], sys.argv[3]
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
sql = json.load(open(f"{outdir}/oracle_sql.json"))[name]
exp = con.sql(sql).df()
files = glob.glob(f"{outdir}/{name}/*.parquet")
if not files:
    print("FAIL no spark output"); sys.exit(2)
got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            nonnull = df[c].dropna()
            if len(nonnull) and isinstance(nonnull.iloc[0], datetime.date):
                df[c] = pd.to_datetime(df[c])
            else:
                df[c] = df[c].astype(str)
        if np.issubdtype(df[c].dtype, np.datetime64):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(list(df.columns)).reset_index(drop=True)
exp_n, got_n = norm(exp), norm(got)
if list(exp_n.columns) != list(got_n.columns):
    print(f"FAIL columns {list(got_n.columns)} vs {list(exp_n.columns)}"); sys.exit(2)
if len(exp_n) != len(got_n):
    print(f"FAIL rows {len(got_n)} vs {len(exp_n)}"); sys.exit(2)
pd.testing.assert_frame_equal(got_n, exp_n, check_dtype=False, check_exact=True)
for c in got_n.columns:
    gd, ed = got_n[c].dtype, exp_n[c].dtype
    if (np.issubdtype(gd, np.floating) or np.issubdtype(ed, np.floating)) \
       and np.issubdtype(gd, np.number) and np.issubdtype(ed, np.number):
        g = got_n[c].to_numpy().astype(np.float64)
        e2 = exp_n[c].to_numpy().astype(np.float64)
        ok = np.isnan(g) | (np.signbit(g) == np.signbit(e2))
        assert ok.all(), f"signbit mismatch in {c}"
print(f"OK ({len(got_n)} rows)")
con.close()
sys.stdout.flush()
os._exit(0)
'''

ok, fail, skip = [], [], []
for name in sorted(oracle):
    try:
        r = subprocess.run([sys.executable, "-c", CHILD, sfdir, outdir, name],
                           capture_output=True, text=True, timeout=budget)
        line = (r.stdout.strip().splitlines() or ["?"])[-1]
        if r.returncode == 0 and line.startswith("OK"):
            ok.append(name); print(f"OK   {name} {line[2:].strip()}")
        else:
            fail.append(name)
            print(f"FAIL {name}: {line[:200]} {r.stderr.strip()[:200]}")
    except subprocess.TimeoutExpired:
        skip.append(name); print(f"SKIP {name}: oracle exceeded {budget}s (quadratic-at-oracle-side)")
print(f"\n{len(ok)}/{len(ok)+len(fail)} oracle-matched; {len(skip)} skipped on the {budget}s budget; fails: {fail}")
print("skipped:", skip)
