#!/usr/bin/env python3
"""Differential-fuzzer compare harness: runs graft.Fuzz via sbt (generated
dialect queries -> parquet dumps + fuzz_sql.json + the deterministic t1/t2
tables), then executes each oracle SQL in DuckDB over the SAME tables and
compares sorted rows/columns/values — check.py's protocol over generated
queries. Usage:
    python3 fuzz.py [outdir] [--n N] [--seed S] [--rows R] [--no-run]
Exit 0 = every generated query matches DuckDB. --rows R > 0 is the BIG
tier (pinned R-row t1, R/4-row t2): same templates over thousands of
rows so AQE/exchange planning engages, the join template's ON clause
gains an id band (output linear in R instead of the tiny-key-domain
quadratic product that OOM'd the 4 GB JVM at R=20000), and t1.a gets a
~50%-frequency hot key so AQE skew handling enters the certified
surface. R = 50000 fits; beyond that, watch DuckDB's memory first."""
import json, os, subprocess, sys

OUT = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") \
    else "/tmp/fuzz_out"
N = "170"
SEED = "1"
ROWS = "0"  # >0 = BIG tier: pinned t1 size (FuzzGen.tables rows1)
for i, a in enumerate(sys.argv):
    if a == "--n": N = sys.argv[i + 1]
    if a == "--seed": SEED = sys.argv[i + 1]
    if a == "--rows": ROWS = sys.argv[i + 1]

if "--no-run" not in sys.argv:
    r = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Fuzz {OUT} {N} {SEED} {ROWS}"],
        cwd=os.path.dirname(os.path.abspath(__file__)), capture_output=True, text=True, timeout=7200)
    sys.stdout.write("\n".join(
        l for l in r.stdout.splitlines() if "[fuzz]" in l) + "\n")
    if r.returncode != 0:
        print("ENGINE-SIDE FAILURES (see failures.txt):")
        print(open(f"{OUT}/failures.txt").read()[-4000:])
        sys.exit(1)

import duckdb, pandas as pd
con = duckdb.connect()
for t in ("t1", "t2"):
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM '{OUT}/tables/{t}/*.parquet'")

oracle = json.load(open(f"{OUT}/fuzz_sql.json"))
ok = fail = 0
for name in sorted(oracle):
    sql = oracle[name]
    pq = f"{OUT}/{name}"
    if not os.path.isdir(pq):
        print(f"FAIL {name}: no spark output"); fail += 1; continue
    try:
        exp = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: duckdb error {e}\n  oracle: {sql}")
        fail += 1; continue
    got = con.sql(f"SELECT * FROM '{pq}/*.parquet'").df()
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        print(f"FAIL {name}: cols exp={list(exp.columns)} got={list(got.columns)}")
        fail += 1; continue
    if len(exp) != len(got):
        print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}\n  oracle: {sql}")
        fail += 1; continue

    def norm(df):
        import numpy as np
        for c in df.columns:
            if df[c].dtype.kind in "iu":
                df[c] = df[c].astype("int64")
            elif df[c].dtype == object:
                df[c] = df[c].map(
                    lambda v: None if v is None else v)
        return df
    # sort float columns LAST: two engines' float results can differ by
    # an ulp, and sorting by a float first cross-pairs near-tied rows —
    # the non-float columns (id / group keys, unique by construction)
    # must dominate the pairing, floats are then compared with rtol
    def sortkey(df):
        nonf = [c for c in df.columns if df[c].dtype.kind != "f"]
        return nonf + [c for c in df.columns if df[c].dtype.kind == "f"]
    exp_s = norm(exp).sort_values(by=sortkey(exp)).reset_index(drop=True)
    got_s = norm(got).sort_values(by=sortkey(got)).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(exp_s, got_s, check_dtype=True,
                                      check_exact=False, rtol=1e-9, atol=1e-9)
        ok += 1
    except AssertionError as e:
        print(f"FAIL {name}: values differ\n  {str(e)[:600]}\n  oracle: {sql}")
        fail += 1

print(f"\n[fuzz.py] {ok} ok, {fail} fail (seed={SEED}, n={N})")
sys.exit(1 if fail else 0)
