#!/usr/bin/env python
"""Driver-equivalent correctness sweep: run every queries() entry on Spark
and its oracle_sql() on DuckDB at a given SF dir, compare row count, column
names, and order-insensitive values. Mirrors tests/test_entry.py but is
runnable at any SF (the driver gates at sf0.01).

Usage: python scripts/check_oracles.py [sf_dir] [name_filter]
"""

from __future__ import annotations

import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    return v


def _rows_set(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_normalize(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((v is None, str(type(v)), v) for v in t),
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    flt = sys.argv[2] if len(sys.argv) > 2 else ""

    import duckdb

    import __spark_entry__ as entry_mod
    from tribeca_insights_spark.session import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    spark = get_spark(app_name="check-oracles")

    failures = []
    for name in sorted(entry_mod.queries()):
        if flt and flt not in name:
            continue
        t0 = time.time()
        try:
            sdf = entry_mod.queries()[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            oracle = entry_mod.oracle_sql().get(name)
            if oracle is None:
                print(f"  {name}: rows-only ({len(srows)} rows, "
                      f"{time.time()-t0:.1f}s)")
                continue
            res = con.execute(oracle)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            ok = (
                sorted(scols) == sorted(dcols)
                and len(srows) == len(drows)
                and _rows_set(scols, srows) == _rows_set(dcols, drows)
            )
            status = "OK " if ok else "FAIL"
            if not ok:
                failures.append(name)
            print(f"  {name}: {status} ({len(srows)} rows, "
                  f"{time.time()-t0:.1f}s)")
        except Exception as e:  # noqa: BLE001 — sweep must report all
            failures.append(name)
            print(f"  {name}: ERROR {type(e).__name__}: {e}")
    spark.stop()
    print(f"failures: {failures or 'none'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
