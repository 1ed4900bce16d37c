"""Derive the expected output of every query op (run once, by hand).

For each query op of the four workloads, on the sf0.1 fixture tables in
perfbench/data/sf0.1: run it through Spark, write its output
as parquet and compare it with the query's DuckDB twin (SparkEntry.oracleSql)
the way scripts/check.py does (columns sorted by name, rows sorted, exact
values). A query whose output matches its twin, and whose digest repeats,
gets its row count, digest and scanned tables recorded in expected.json;
run.py checks every op against that record.

    python3 perfbench/derive.py [--compare-only] [query ...]
"""
import json
import re
import sys
import threading
from pathlib import Path

import duckdb
import pandas as pd

import harness
from run import DATA, all_ops

WORK = harness.BENCH / "work" / "derive"
ORACLE_TIMEOUT_S = 120
TABLES = sorted(p.stem for p in DATA.glob("*.parquet"))


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> str:
    s, d = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"schema spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"rowcount spark={len(s)} duck={len(d)}"
    for c in s.columns:
        a, b = s[c], d[c]
        if a.dtype.kind in "fc" or b.dtype.kind in "fc":
            eq = a.fillna(-1e308) == b.fillna(-1e308)
        else:
            eq = a.astype(str).fillna("\0") == b.astype(str).fillna("\0")
        if not eq.all():
            i = (~eq).idxmax()
            return f"value {c}: spark={a[i]!r} duck={b[i]!r} ({int((~eq).sum())} rows)"
    return "ok"


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    names = args or all_ops()
    data = DATA
    records = WORK / "records.jsonl"
    if "--compare-only" not in sys.argv:
        cp = harness.build()
        WORK.mkdir(parents=True, exist_ok=True)
        plan = WORK / "plan.properties"
        harness.write_plan(plan, {
            "mode": "derive", "workload": "derive", "kind": "queries", "data": data,
            "ops": ",".join(names), "seconds": 0, "trace": 1, "records": records,
            "derive_out": WORK / "out"})
        rc = harness.launch(cp, plan, WORK, timeout=7200)
        print(f"derive jvm exit {rc}")
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    exp_path = harness.BENCH / "expected.json"
    expected = json.loads(exp_path.read_text()) if exp_path.exists() else {}
    for line in records.read_text().splitlines():
        r = json.loads(line)
        q = r["name"]
        if q not in names:
            continue
        if "error" in r:
            verdict = "spark error: " + str(r["error"])
        elif not r["stable"]:
            verdict = "unstable digest"
        elif not r.get("oracle"):
            verdict = "no oracle twin"
        else:
            timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
            timer.start()
            try:
                verdict = compare(pd.read_parquet(WORK / "out" / q), con.sql(r["oracle"]).df())
            except Exception as e:  # an oracle error or timeout is a verdict, not a crash
                verdict = f"oracle error: {str(e)[:200]}"
            finally:
                timer.cancel()
        print(f"{q:34s} {verdict}")
        # the tables an op reads: those its DuckDB twin names, plus any scan
        # the listener saw (the twin is the complete list when an op's scans
        # hide behind a checkpoint)
        sql = (r.get("oracle") or "").lower()
        tables = sorted((set(r.get("tables", [])) & set(TABLES)) | {t for t in TABLES if re.search(rf"\b{t}\b", sql)})
        expected[q] = {"digest": r.get("digest"), "tables": tables, "oracle": verdict}
    exp_path.write_text(json.dumps(dict(sorted(expected.items())), indent=1) + "\n")


if __name__ == "__main__":
    main()
