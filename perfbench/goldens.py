#!/usr/bin/env python3
"""Regenerate and cross-check the golden hashes of probe_mix's plain-scan
entries.

Usage (from the repository root):

    python3 perfbench/goldens.py          # check perfbench/goldens.json
    python3 perfbench/goldens.py --write  # regenerate the fixture and goldens

Runs the entries once over the committed TPC-H-shaped fixture
(perfbench/fixture/tpch), then runs each entry's `SparkEntry.oracleSql` over
the same parquet files in DuckDB and compares schema, row count and values,
the way scripts/check.py does. Exits non-zero on any mismatch.
"""
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem"]


def main():
    cp = run.build()
    write = "--write" in sys.argv[1:]
    work = os.path.join(run.HERE, ".work", f"goldens-{os.getpid()}-{int(time.time())}")
    out = os.path.join(work, "out")
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)

    def harness(mode, dest, w):
        p = subprocess.run(run.java_cmd(cp, w, ["--workload", mode, "--out", dest]),
                           cwd=w, env=env, capture_output=True, text=True, timeout=600)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-6000:])
            sys.exit(f"{mode} run failed")
        return p.stdout

    try:
        if write:
            shutil.rmtree(run.FIXTURE, ignore_errors=True)
            harness("fixture", run.FIXTURE, work + "-fixture")
            for d, _, fs in os.walk(run.FIXTURE):
                for f in fs:
                    if not f.endswith(".parquet"):
                        os.remove(os.path.join(d, f))
        stdout = harness("golden", out, work)
        hashes = json.loads(stdout[stdout.index("{"):])
        with open(os.path.join(out, "oracle_sql.json")) as fh:
            oracles = json.load(fh)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(run.FIXTURE, t + '.parquet')}/*.parquet')")
        bad = 0
        for name, sql in oracles.items():
            got = pd.read_parquet(os.path.join(out, name)).reset_index(drop=True)
            want = con.sql(sql).df()
            ok = list(got.columns) == list(want.columns) and len(got) == len(want)
            if ok:
                for c in got.columns:
                    a, b = got[c], want[c]
                    if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
                        ok &= bool(((a.astype(float) - b.astype(float)).abs() < 1e-9).all())
                    else:
                        ok &= [str(x) for x in a] == [str(x) for x in b]
            print(f"{name}: rows={len(got)} {'PASS' if ok else 'MISMATCH'} {hashes[name]}")
            bad += not ok
        path = os.path.join(run.HERE, "goldens.json")
        if write:
            with open(path, "w") as fh:
                json.dump(hashes, fh, indent=2)
                fh.write("\n")
        else:
            with open(path) as fh:
                committed = json.load(fh)
            for k, v in hashes.items():
                if committed.get(k) != v:
                    print(f"{k}: hash differs from goldens.json")
                    bad += 1
        sys.exit(1 if bad else 0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(work + "-fixture", ignore_errors=True)


if __name__ == "__main__":
    main()
