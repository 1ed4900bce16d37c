#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run graft.Verify on an sf
dir, then compare each query's parquet against its DuckDB oracle (columns
sorted by name, rows sorted, exact values; a capped oracle is a FAIL). Usage:
    python3 scripts/check.py [sfdir] [--skip-verify] [--only p1,p2]
--only runs and compares just the queries with one of these name prefixes.
"""
import json, shutil, subprocess, sys, threading, time
from pathlib import Path

import duckdb
import pandas as pd

SF = sys.argv[1] if len(sys.argv) > 1 and not sys.argv[1].startswith("-") else "/root/testdata/sf0.01"
ONLY = sys.argv[sys.argv.index("--only") + 1] if "--only" in sys.argv else ""
PREFIXES = [p for p in ONLY.split(",") if p]
ROOT = Path(__file__).resolve().parent.parent  # the checkout this script belongs to
OUT = str(ROOT / "target" / "verify_out")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Per-query oracle wall cap, twice the slowest oracle seen to finish: the
# recursive closures of q147 and q324 take 300-450 s on 4 cores, and a
# q324 run that passes 15 minutes is what the cap stops.
ORACLE_CAP_S = 900


def wanted(q: str) -> bool:
    return not PREFIXES or any(q.startswith(p) for p in PREFIXES)


if "--skip-verify" not in sys.argv:
    # clear the outputs Verify is about to rewrite: a query that errors
    # writes nothing, and a stale directory would be compared in its place
    for d in Path(OUT).glob("*"):
        if d.is_dir() and wanted(d.name):
            shutil.rmtree(d)
    r = subprocess.run(
        ["sbt", "-batch", f'runMain graft.Verify {SF} {OUT} {",".join(PREFIXES)}'.rstrip()],
        cwd=ROOT, capture_output=True, text=True, timeout=1800)
    tail = "\n".join((r.stdout + r.stderr).splitlines()[-15:])
    if r.returncode != 0:
        print("VERIFY FAILED:\n", tail); sys.exit(1)
    print("verify ran.")
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)

oracle = json.loads(Path(f"{OUT}/oracle_sql.json").read_text())
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails, passes, rows_only = [], [], []
# Verify catches per-query errors and keeps going, so an erroring query
# simply has no output dir — surface those as hard FAILs (a fixture-schema
# refresh once silently dropped 18 event queries this way).
written = {p.name for p in Path(OUT).iterdir() if p.is_dir()}
for q in sorted(set(oracle) - written):
    if not wanted(q):
        continue
    fails.append(q)
    print(f"{q:24s} MISSING (query errored during Verify — see its stderr)")
slowest = (0.0, "")
for name in sorted(Path(OUT).iterdir()):
    if not name.is_dir() or not wanted(name.name):
        continue
    q = name.name
    spark_df = pd.read_parquet(name)
    if q not in oracle:
        status = "ROWS-ONLY"
        (rows_only if len(spark_df) > 0 else fails).append(q)
        print(f"{q:24s} {status} rows={len(spark_df)}" + (" !! EMPTY" if len(spark_df) == 0 else ""))
        continue
    timer = threading.Timer(ORACLE_CAP_S, con.interrupt)
    t0 = time.monotonic()
    timer.start()
    try:
        duck_df = con.sql(oracle[q]).df()
    except duckdb.InterruptException:
        fails.append(q); print(f"{q:24s} ORACLE-TIMEOUT after {ORACLE_CAP_S} s"); continue
    except Exception as e:
        fails.append(q); print(f"{q:24s} ORACLE-SQL-ERROR {e}"); continue
    finally:
        timer.cancel()
    slowest = max(slowest, (time.monotonic() - t0, q))
    s, d = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(d.columns):
        fails.append(q)
        print(f"{q:24s} SCHEMA-MISMATCH spark={list(s.columns)} duck={list(d.columns)}")
        continue
    if len(s) != len(d):
        fails.append(q); print(f"{q:24s} ROWCOUNT spark={len(s)} duck={len(d)}"); continue
    # exact compare with dtype tolerance (int64 vs int32 etc.)
    diffs = []
    for c in s.columns:
        a, b = s[c], d[c]
        try:
            if a.dtype.kind in "fc" or b.dtype.kind in "fc":
                eq = (a.fillna(-1e308) == b.fillna(-1e308))
            else:
                eq = (a.astype(str).fillna("\0") == b.astype(str).fillna("\0"))
            if not eq.all():
                idx = (~eq).idxmax()
                diffs.append((c, a[idx], b[idx], int((~eq).sum())))
        except Exception as e:
            diffs.append((c, "cmp-error", str(e), -1))
    if diffs:
        fails.append(q)
        print(f"{q:24s} VALUE-DIFF {diffs[:3]}")
    else:
        passes.append(q)
        print(f"{q:24s} OK rows={len(s)}")

print(f"\nslowest finished oracle: {slowest[1]} {slowest[0]:.1f} s (cap {ORACLE_CAP_S} s)")
print(f"== {len(passes)} ok, {len(rows_only)} rows-only, {len(fails)} FAIL: {fails}")
sys.exit(1 if fails else 0)
