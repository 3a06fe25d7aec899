#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/parity.py [sfDir] [outDir]

Reads outDir/oracle_sql.json (written by graft.Verify), runs each oracle in
DuckDB against the sfDir parquet tables, and compares against the Spark
parquet output in outDir/<name>/ — columns sorted by name, rows compared in
order, doubles compared exactly (bitwise, which our deterministic-aggregation
design guarantees). Strictly harsher than the driver (which may sort rows).
A query listed in outDir/errors.json (Verify's failed queries) fails with
Verify's message, whatever output an earlier run left in its directory.
"""
import duckdb, json, sys, glob, os, time
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Per-oracle wall-time budget (seconds). One slow oracle zeroed the round-12
# driver gate (m07's un-materialized recursive CTE ran 787 s at sf0.01); any
# oracle past this budget is a FAIL so the hazard can never again pass
# silently. Override with GRAFT_ORACLE_BUDGET.
BUDGET_S = float(os.environ.get("GRAFT_ORACLE_BUDGET", "60"))

def main():
    sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    oracle = json.load(open(f"{outdir}/oracle_sql.json"))
    errors_path = f"{outdir}/errors.json"
    errors = json.load(open(errors_path)) if os.path.exists(errors_path) else {}
    fails = 0
    slowest = (0.0, "")
    for name, sql in sorted(oracle.items()):
        if name in errors:
            print(f"{name}: FAIL SPARK ERROR: {errors[name]}")
            fails += 1
            continue
        t0 = time.monotonic()
        try:
            exp = con.sql(sql).df()
        except Exception as e:
            print(f"{name}: ORACLE SQL ERROR: {str(e).splitlines()[0]}")
            fails += 1
            continue
        dt = time.monotonic() - t0
        slowest = max(slowest, (dt, name))
        if dt > BUDGET_S:
            print(f"{name}: FAIL ORACLE OVER BUDGET ({dt:.1f}s > {BUDGET_S:.0f}s)")
            fails += 1
            continue
        files = sorted(glob.glob(f"{outdir}/{name}/*.parquet"))
        if not files:
            print(f"{name}: NO SPARK OUTPUT")
            fails += 1
            continue
        got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        exp = exp[sorted(exp.columns)]
        got = got[sorted(got.columns)]
        problems = []
        if list(exp.columns) != list(got.columns):
            problems.append(f"COLS exp={list(exp.columns)} got={list(got.columns)}")
        elif len(exp) != len(got):
            problems.append(f"NROWS exp={len(exp)} got={len(got)}")
        else:
            for c in exp.columns:
                e, g = exp[c], got[c]
                if str(e.dtype) != str(g.dtype):
                    problems.append(f"dtype[{c}]: exp={e.dtype} got={g.dtype}")
                if not e.equals(g):
                    neq = ~((e == g) | (e.isna() & g.isna()))
                    idx = np.where(neq)[0][:3]
                    if len(idx):
                        problems.append(
                            f"VAL[{c}] rows {list(idx)}: exp={list(e.iloc[idx])} got={list(g.iloc[idx])}")
        if problems:
            print(f"{name}: FAIL " + " | ".join(problems))
            fails += 1
        else:
            print(f"{name}: OK ({len(exp)} rows, oracle {dt:.2f}s)")
    print(f"SLOWEST ORACLE: {slowest[1]} {slowest[0]:.2f}s (budget {BUDGET_S:.0f}s)")
    print(f"FAILS: {fails}/{len(oracle)}")
    sys.exit(1 if fails else 0)

if __name__ == "__main__":
    main()
