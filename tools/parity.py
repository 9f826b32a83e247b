#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Usage:  python3 tools/parity.py [sfDir] [verifyOutDir]

Assumes `sbt "runMain graft.Verify <sfDir> <verifyOutDir>"` has already
produced <verifyOutDir>/<query>/ parquet dumps + oracle_sql.json.
oracle_sql.json always holds every query; when SPARK_GRAFT_VERIFY_ONLY
(comma-separated keys) limited the Verify run, set it here too and only
those queries are compared.
Registers each test table as a DuckDB view, runs every oracle SQL, and
compares against the Spark dump (columns sorted by name, rows sorted,
exact value equality; float tolerance reported separately).

Dev tool only — the shipped Scala library does not depend on this.
"""
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    sortable = [c for c in df.columns if df[c].dtype != object or
                not df[c].map(lambda v: isinstance(v, (list, np.ndarray))).any()]
    if sortable:
        df = df.sort_values(by=sortable, kind="mergesort")
    return df.reset_index(drop=True)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    only = os.environ.get("SPARK_GRAFT_VERIFY_ONLY")
    if only is not None:
        want = {k.strip() for k in only.split(",") if k.strip()}
        missing = sorted(want - oracle.keys())
        if missing:
            sys.exit(f"SPARK_GRAFT_VERIFY_ONLY names unknown queries: {', '.join(missing)}")
        oracle = {k: v for k, v in oracle.items() if k in want}
    ok = fail = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").fetchdf()
            exp = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            fail += 1
            continue
        g, e = norm(got), norm(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(e.columns)}")
            fail += 1
            continue
        if len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} vs {len(e)}")
            fail += 1
            continue
        dtype_warn = ""
        if [str(d) for d in g.dtypes] != [str(d) for d in e.dtypes]:
            dtype_warn = (" [dtype diff: "
                          + ", ".join(f"{c}:{dg}!={de}" for c, dg, de in
                                      zip(g.columns, g.dtypes, e.dtypes)
                                      if str(dg) != str(de)) + "]")
        bad_cols = {}
        for c in g.columns:
            a, b = g[c], e[c]
            if a.map(lambda v: isinstance(v, (list, np.ndarray))).any():
                eq = [np.array_equal(np.asarray(x), np.asarray(y))
                      for x, y in zip(a, b)]
                n = len(a) - sum(eq)
            else:
                eq = (a == b) | (a.isna() & b.isna())
                n = int((~eq).sum())
            if n:
                bad_cols[c] = n
        if not bad_cols:
            print(f"OK   {name} ({len(g)} rows){dtype_warn}")
            ok += 1
        else:
            print(f"FAIL {name}: mismatched values {bad_cols}{dtype_warn}")
            for c in list(bad_cols)[:2]:
                a, b = g[c], e[c]
                m = ~((a == b) | (a.isna() & b.isna()))
                print(f"  {c}: spark={a[m].head(3).tolist()} "
                      f"oracle={b[m].head(3).tolist()}")
            fail += 1
    print(f"== {ok} OK, {fail} FAIL ==")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
