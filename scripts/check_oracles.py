#!/usr/bin/env python
"""Self-check: run every queries() entry vs its oracle_sql() in DuckDB —
mimics the driver's CORRECTNESS gate (row count + schema + order-insensitive
value hash) at sf0.01 (or $SPARK_GRAFT_SF_DIR).

Usage: python scripts/check_oracles.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from geedim_spark import synth  # noqa: E402
from geedim_spark.session import get_session  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalise values, sort rows — an
    order-insensitive canonical form for hashing."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            # NOTE: Decimal objects are stringified, NOT coerced to float —
            # the round-1 driver run proved its canonicalizer is
            # trailing-zero sensitive (Decimal('138014.00') != 138014.0),
            # so the local gate must be at least that strict.  Money
            # columns are integer cents everywhere now (FIXTURES.md).
            df[c] = df[c].map(
                lambda v: str(sorted(v)) if isinstance(v, (list, tuple)) else str(v)
            )
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(9)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main() -> int:
    only = set(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    sf = synth.sf_from_dir(sf_dir)

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    spark = get_session("check_oracles")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql(sf) if entrymod.oracle_sql.__code__.co_argcount else entrymod.oracle_sql()

    failures, leaked, n_run = [], [], 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        t_spark = time.time() - t0
        n_run += 1
        if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
            leaked.append(name)
        # persist-once intermediates (minhash banding, tf-idf tf, dsir
        # buckets) stack up over a 100+-query session otherwise
        spark.catalog.clearCache()
        if name not in oracles:
            print(f"  {name:<22} rows={len(sdf):>7}  (rows-only, {t_spark:.1f}s)")
            continue
        odf = con.execute(oracles[name]).df()
        a, b = norm(sdf), norm(odf)
        ok_rows = len(a) == len(b)
        ok_cols = list(a.columns) == list(b.columns)
        ok_vals = ok_rows and ok_cols and a.astype(str).equals(b.astype(str))
        status = "OK " if (ok_rows and ok_cols and ok_vals) else "FAIL"
        print(f"  {name:<22} rows={len(a):>7} vs {len(b):>7}  "
              f"cols={'=' if ok_cols else '!'} vals={'=' if ok_vals else '!'}  "
              f"[{status}] ({t_spark:.1f}s)")
        if status == "FAIL":
            failures.append(name)
            if not ok_cols:
                print(f"    spark cols: {list(a.columns)}\n    duck  cols: {list(b.columns)}")
            elif ok_rows:
                neq = ~(a.astype(str) == b.astype(str)).all(axis=1)
                print("    first diffs (spark vs duck):")
                print(pd.concat([a[neq].head(3), b[neq].head(3)]).to_string()[:800])

    print(f"\ncache left behind by {len(leaked)} queries: {', '.join(leaked) or 'none'}")
    print(f"{n_run - len(failures)}/{n_run} "
          f"{'ALL OK' if not failures else 'FAILURES: ' + ', '.join(failures)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
