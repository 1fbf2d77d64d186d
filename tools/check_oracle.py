"""Local replica of the driver's correctness gate: run each
__spark_entry__ query on Spark AND its oracle SQL on DuckDB at the
given sf, compare row-count / schema / order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.abspath(os.path.join(os.path.dirname(__file__), "..")))

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    out = df[cols].copy()
    for c in cols:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
    return out.sort_values(cols, kind="mergesort").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as e
    from search_engine_spark.session import get_spark
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    qs, oracles = e.queries(), e.oracle_sql()
    # individual bundle MEMBERS remain runnable by name via the full
    # registry (the driver-facing registry exposes only the bundles)
    if only:
        from search_engine_spark.entry_queries import (QUERIES_ALL,
                                                       oracle_sql_map_all)
        base = oracle_sql_map_all()  # build the full map ONCE
        for n in only:
            if n not in qs and n in QUERIES_ALL:
                qs[n] = QUERIES_ALL[n]
                if n in base:
                    oracles[n] = base[n]
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL  {name}: spark error: {ex}")
            failures += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"rows  {name}: {len(got)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            exp = con.sql(sql).df()
        except Exception as ex:
            print(f"FAIL  {name}: duckdb error: {ex}")
            failures += 1
            continue
        g, x = norm(got), norm(exp)
        if list(g.columns) != list(x.columns):
            print(f"FAIL  {name}: columns {list(g.columns)} vs {list(x.columns)}")
            failures += 1
            continue
        if g.shape != x.shape:
            print(f"FAIL  {name}: shape {g.shape} vs {x.shape}")
            failures += 1
            continue
        try:
            pd.testing.assert_frame_equal(g, x, check_dtype=False,
                                          check_exact=False, rtol=0, atol=0)
            ok = True
        except AssertionError as ex:
            ok = False
            msg = str(ex).splitlines()[0]
        if ok:
            print(f"OK    {name}: {g.shape[0]} rows [{time.time()-t0:.1f}s]")
        else:
            print(f"FAIL  {name}: value mismatch: {msg}")
            diff = (g.astype(str).values != x.astype(str).values)
            idx = list(zip(*diff.nonzero()))[:5]
            for r, c in idx:
                print(f"      row {r} col {g.columns[c]}: got={g.iat[r, c]} exp={x.iat[r, c]}")
            failures += 1
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
