#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify at a
scale factor, then execute each oracle SQL in DuckDB over the same parquet
tables and diff against the Spark result (columns sorted by name, rows
sorted, exact value compare; floats reported with max-abs-diff on
mismatch).

Usage: python3 tools/check.py [sfDir] [outDir] [--skip-verify]
"""
import json, math, subprocess, sys
from pathlib import Path
import duckdb
import pandas as pd

# --skip-verify may come anywhere, so it never lands in a positional slot
SKIP_VERIFY = "--skip-verify" in sys.argv
sys.argv = [a for a in sys.argv if a != "--skip-verify"]
SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

if not SKIP_VERIFY:
    r = subprocess.run(
        ["sbt", "--error", f'runMain graft.Verify {SF_DIR} {OUT}'],
        cwd=Path(__file__).resolve().parents[1], capture_output=True, text=True, timeout=1200)
    sys.stdout.write(r.stdout[-4000:])
    sys.stderr.write(r.stderr[-4000:])
    if r.returncode != 0:
        sys.exit(f"Verify failed rc={r.returncode}")

con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
fails = []
for name, sql in sorted(oracle.items()):
    try:
        got = pd.read_parquet(f"{OUT}/{name}")
    except Exception as e:
        fails.append(name); print(f"FAIL {name}: no spark result ({e})"); continue
    try:
        want = con.execute(sql).fetchdf()
    except Exception as e:
        fails.append(name); print(f"FAIL {name}: oracle error: {e}"); continue
    g = got.reindex(sorted(got.columns), axis=1)
    w = want.reindex(sorted(want.columns), axis=1)
    if list(g.columns) != list(w.columns):
        fails.append(name)
        print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
        continue
    if len(g) != len(w):
        fails.append(name); print(f"FAIL {name}: rows {len(g)} vs {len(w)}"); continue
    g = g.sort_values(by=list(g.columns)).reset_index(drop=True)
    w = w.sort_values(by=list(w.columns)).reset_index(drop=True)
    bad = False
    for c in g.columns:
        gv, wv = g[c], w[c]
        # The driver hashes STRINGIFIED values: a DuckDB HUGEINT (e.g.
        # sum() of integers) arrives as float64 and "5.0" != "5" even when
        # numerically equal. Mirror that strictness here.
        if gv.dtype.kind != wv.dtype.kind and "f" in (gv.dtype.kind, wv.dtype.kind):
            bad = True
            print(f"FAIL {name}.{c}: dtype kind {gv.dtype} (spark) vs {wv.dtype} (oracle)"
                  " — int/float repr mismatch; CAST the oracle column")
            continue
        if gv.dtype.kind == "f" or wv.dtype.kind == "f":
            diff = (gv.astype(float) - wv.astype(float)).abs()
            if diff.max() > 0 or gv.isna().sum() != wv.isna().sum():
                bad = True
                print(f"FAIL {name}.{c}: max abs diff {diff.max()}")
        else:
            if not gv.astype(str).equals(wv.astype(str)):
                bad = True
                ex = (gv.astype(str) != wv.astype(str)).idxmax()
                print(f"FAIL {name}.{c}: e.g. row {ex}: {gv[ex]!r} vs {wv[ex]!r}")
    if bad:
        fails.append(name)
    else:
        print(f"ok   {name} ({len(g)} rows)")

print(f"\n{len(oracle) - len(fails)}/{len(oracle)} queries match")
sys.exit(1 if fails else 0)
