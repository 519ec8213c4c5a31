#!/usr/bin/env python3
"""Local mimic of the driver's t2 correctness gate: runs graft.Verify,
then executes each oracle_sql.json entry in DuckDB over the same parquet
tables and compares (schema-insensitively: columns sorted by name, rows
sorted, values hashed). Usage: check_oracle.py [sfdir] [outdir] [--skip-verify]
"""
import json, sys, subprocess, glob, os
import duckdb

# the checkout this script sits in: sbt compiles and runs that tree, so
# two checkouts give two independent gates
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

if "--skip-verify" not in sys.argv:
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir}'],
        cwd=ROOT, capture_output=True, text=True, timeout=1800)
    tail = "\n".join((r.stdout + r.stderr).splitlines()[-30:])
    if r.returncode != 0:
        print(tail); sys.exit(1)
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
# --skip-oracle=a,b,c : omit named queries from the DuckDB compare
# (used for the 10x-scale gate, where a few ground-truth oracles are
# themselves quadratic in DuckDB — the Spark side still runs them)
skip = set()
for a in sys.argv:
    if a.startswith("--skip-oracle="):
        skip = set(a.split("=", 1)[1].split(","))
ok = fail = 0
skipped = 0
for name, sql in sorted(oracle.items()):
    if name in skip:
        print(f"SKIPPED  {name} (oracle too heavy at this SF)")
        skipped += 1
        continue
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"MISSING  {name} (no spark output)"); fail += 1; continue
    try:
        got = con.sql(f"SELECT * FROM '{files[0]}'").df()
        exp = con.sql(sql).df()
    except Exception as e:
        print(f"ERROR    {name}: {e}"); fail += 1; continue
    g = got[sorted(got.columns)]
    e = exp[sorted(exp.columns)]
    if sorted(got.columns) != sorted(exp.columns):
        print(f"SCHEMA   {name}: spark={sorted(got.columns)} oracle={sorted(exp.columns)}")
        fail += 1; continue
    # int-vs-float dtype divergence is a FAILURE even when the values
    # compare equal: the driver's hasher stringifies, and "404463.0"
    # (a HUGEINT sum rendered float64 by the pandas bridge) never
    # hashes like "404463" (Spark's int64). check_dtype=False below
    # hid exactly this for three rounds on p28 — cast the oracle SQL
    # so both sides land on the same integer/floating family.
    dtype_bad = [
        (c, str(g[c].dtype), str(e[c].dtype)) for c in g.columns
        if {g[c].dtype.kind, e[c].dtype.kind} in ({'i', 'f'}, {'u', 'f'})]
    if dtype_bad:
        print(f"DTYPE    {name}: int-vs-float render divergence "
              f"(driver hash would mismatch): {dtype_bad}")
        fail += 1; continue
    gs = g.sort_values(by=list(g.columns)).reset_index(drop=True)
    es = e.sort_values(by=list(e.columns)).reset_index(drop=True)
    if len(gs) != len(es):
        print(f"ROWS     {name}: spark={len(gs)} oracle={len(es)}"); fail += 1; continue
    # value compare via string render (the driver hashes values; this is
    # the strict analogue)
    import pandas as pd
    try:
        pd.testing.assert_frame_equal(gs, es, check_dtype=False,
                                      check_exact=True)
        print(f"OK       {name} ({len(gs)} rows)"); ok += 1
    except AssertionError as ex:
        msg = str(ex).splitlines()
        print(f"VALUES   {name}: {msg[0] if msg else ex}")
        for l in msg[1:6]:
            print("         " + l)
        fail += 1

# rows-only queries
all_outputs = {os.path.basename(p) for p in glob.glob(f"{outdir}/*") if os.path.isdir(p)}
for name in sorted(all_outputs - set(oracle)):
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    n = con.sql(f"SELECT count(*) FROM '{files[0]}'").fetchone()[0] if files else -1
    status = "OK" if n > 0 else "EMPTY"
    print(f"{status:8} {name} (rows-only, {n} rows)")

print(f"\n{ok} ok, {fail} fail, {len(all_outputs - set(oracle))} rows-only")
sys.exit(1 if fail else 0)
