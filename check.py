#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: runs graft.Verify via sbt,
then executes each oracle_sql.json entry in DuckDB over the same parquet
tables and compares (row count, column names, values) against the Spark
parquet dump. Usage: python3 check.py [sfdir] [--no-run]"""
import json, os, subprocess, sys

SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("--") \
    else "/root/testdata/sf0.01"
OUT = os.environ.get("VERIFY_OUT", "/tmp/verify_out")
ONLY = None          # --only q1,q2 : restrict Verify AND the compare
ARTIFACT = None      # --artifact path.json : dump per-query results
for i, a in enumerate(sys.argv):
    if a == "--only": ONLY = set(sys.argv[i + 1].split(","))
    if a == "--artifact": ARTIFACT = sys.argv[i + 1]

if "--no-run" not in sys.argv:
    flt = f" {','.join(sorted(ONLY))}" if ONLY else ""
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT}{flt}'],
        cwd=os.path.dirname(os.path.abspath(__file__)), capture_output=True, text=True, timeout=7200)
    if r.returncode != 0:
        print(r.stdout[-3000:]); print(r.stderr[-3000:]); sys.exit(1)
    for line in r.stderr.splitlines():
        if "[verify]" in line: print(line)

import duckdb, pandas as pd
con = duckdb.connect()
tables = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]
for t in tables:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
ok = fail = 0
results = {}
for name in sorted(oracle):
    if ONLY and name not in ONLY: continue
    sql = oracle[name]
    pq = f"{OUT}/{name}"
    if not os.path.isdir(pq):
        print(f"FAIL {name}: no spark output"); fail += 1
        results[name] = {"match": False, "err": "no spark output"}; continue
    try:
        exp = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: duckdb error {e}"); fail += 1
        results[name] = {"match": False, "err": f"duckdb error {e}"[:300]}; continue
    got = con.sql(f"SELECT * FROM '{pq}/*.parquet'").df()
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        print(f"FAIL {name}: cols exp={list(exp.columns)} got={list(got.columns)}")
        fail += 1
        results[name] = {"match": False, "err": "column mismatch"}; continue
    if len(exp) != len(got):
        print(f"FAIL {name}: rows exp={len(exp)} got={len(got)}"); fail += 1
        results[name] = {"match": False, "err": f"rows exp={len(exp)} got={len(got)}"}; continue
    exp_s, got_s = exp, got  # normalized below BEFORE sorting (array cells
    # must become tuples first, or sort_values can't factorize them)
    # Mimic the driver's hash: integer widths are normalized (int32 == int64)
    # but int-vs-float is a mismatch (DuckDB sum(BIGINT) -> HUGEINT -> pandas
    # float64 must FAIL here, as it fails the driver's hash compare).
    def norm_ints(df):
        import numpy as np
        def tup(v):
            if isinstance(v, (list, np.ndarray)):
                return tuple(tup(x) for x in v)
            if isinstance(v, np.integer): return int(v)
            return v
        for c in df.columns:
            if df[c].dtype.kind in "iu":
                df[c] = df[c].astype("int64")
            elif df[c].dtype == object:
                # array cells -> tuples: hashable + comparable, so mixed
                # scalar/array frames sort and compare uniformly
                df[c] = df[c].map(tup)
        return df
    exp_s = norm_ints(exp_s).sort_values(by=list(exp.columns)).reset_index(drop=True)
    got_s = norm_ints(got_s).sort_values(by=list(got.columns)).reset_index(drop=True)
    try:
        pd.testing.assert_frame_equal(exp_s, got_s, check_dtype=True,
                                      check_exact=False, rtol=1e-9, atol=1e-9)
        print(f"ok   {name} ({len(exp)} rows)"); ok += 1
        results[name] = {"match": True, "rows": len(exp)}
    except AssertionError as e:
        print(f"FAIL {name}: values differ\n  {str(e)[:500]}"); fail += 1
        results[name] = {"match": False, "err": "values differ"}

# rows-only check for queries without an oracle
for name in sorted(os.listdir(OUT)):
    d = f"{OUT}/{name}"
    if os.path.isdir(d) and name not in oracle:
        n = len(con.sql(f"SELECT * FROM '{d}/*.parquet'").df())
        status = "ok  " if n > 0 else "FAIL"
        if n > 0: ok += 1
        else: fail += 1
        print(f"{status} {name} (rows-only: {n} rows)")

if ARTIFACT:
    with open(ARTIFACT, "w") as f:
        json.dump({"sf": SF, "ok": ok, "fail": fail, "queries": results}, f, indent=1)
    print(f"artifact -> {ARTIFACT}")

print(f"\n{ok} ok, {fail} fail")
sys.exit(1 if fail else 0)
