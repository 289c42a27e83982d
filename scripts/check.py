#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 scripts/check.py <verify_outDir> <sfDir>

For each <outDir>/<name>/ parquet dump written by graft.Verify, runs the
matching SQL from <outDir>/oracle_sql.json in DuckDB (tables = views over
<sfDir>/*.parquet) and compares: schema (column names sorted), row count,
and values (exact; floats reported with max-abs-diff when not exact).
Before the summary line it prints how many of the failures are entries
with no output at all, apart from the mismatched ones.
"""
import sys, os, json, glob
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    return df.reset_index(drop=True)

def main(out_dir: str, sf_dir: str) -> int:
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    n_pass = n_fail = 0
    results = {}
    # a query that threw inside Verify writes no directory — that must be
    # a FAIL, not a silent absence (false-green gate otherwise)
    missing = [k for k in oracles
               if not os.path.isdir(os.path.join(out_dir, k))]
    for k in missing:
        results[k] = "NO-OUTPUT (query failed inside Verify?)"
        n_fail += 1
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        files = glob.glob(os.path.join(d, "*.parquet"))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if name not in oracles:
            results[name] = f"NO-ORACLE rows={len(got)}"
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as e:
            results[name] = f"ORACLE-SQL-ERROR {e}"
            n_fail += 1
            continue
        g, w = canon(got), canon(want)
        if list(g.columns) != list(w.columns):
            results[name] = f"SCHEMA-MISMATCH spark={list(g.columns)} duck={list(w.columns)}"
            n_fail += 1
            continue
        if len(g) != len(w):
            results[name] = f"ROWCOUNT-MISMATCH spark={len(g)} duck={len(w)}"
            n_fail += 1
            continue
        bad = []
        dtype_notes = [f"{c}: spark={g[c].dtype} duck={w[c].dtype}"
                       for c in g.columns if str(g[c].dtype) != str(w[c].dtype)]
        for c in g.columns:
            a, b = g[c].values, w[c].values
            if np.issubdtype(g[c].dtype, np.floating) or np.issubdtype(w[c].dtype, np.floating):
                af = pd.to_numeric(g[c]).values.astype(float)
                bf = pd.to_numeric(w[c]).values.astype(float)
                both_nan = np.isnan(af) & np.isnan(bf)
                eq = (af == bf) | both_nan
                if not eq.all():
                    bad.append(f"{c}: maxdiff={np.nanmax(np.abs(af-bf)):.3e} n={np.sum(~eq)}")
            else:
                aa = pd.Series(a).astype(object).where(pd.Series(a).notna(), None)
                bb = pd.Series(b).astype(object).where(pd.Series(b).notna(), None)
                neq = [(x, y) for x, y in zip(aa, bb) if x != y and not (x is None and y is None)]
                if neq:
                    bad.append(f"{c}: {len(neq)} diffs e.g. {neq[:2]}")
        if bad:
            results[name] = "VALUE-MISMATCH " + "; ".join(bad)
            n_fail += 1
        else:
            note = f" DTYPE-NOTE {'; '.join(dtype_notes)}" if dtype_notes else ""
            results[name] = f"OK rows={len(g)}{note}"
            n_pass += 1
    for k, v in sorted(results.items()):
        print(f"{'PASS' if v.startswith('OK') else 'INFO' if v.startswith('NO-ORACLE') else 'FAIL'} {k}: {v}")
    # the fail count holds both kinds; a missing entry (no output at all)
    # points at Verify, a mismatch at the query or its oracle
    print(f"\n{len(missing)} no-output, {n_fail - len(missing)} mismatched "
          f"(both counted as fail)")
    print(f"\n{n_pass} pass, {n_fail} fail, {len(results)-n_pass-n_fail} no-oracle")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
