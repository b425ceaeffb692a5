"""Local stand-in for the driver's t2 correctness gate.

Runs every ``queries()`` entry and its ``oracle_sql()`` twin, compares
row count, sorted column names, and the order-insensitive multiset of
row values, and prints each query's wall seconds, Spark job count (one
job group per query) and CacheManager entry delta on its line -- a query
that leaves a cached plan behind shows ``+N cached``.  Usage:
python tools/compare_oracle.py [sf_dir] [name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

# this checkout's engine, not whichever one is installed or first on the path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_cell(v):
    import datetime

    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # driver-style: round-trip through repr at full precision
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return repr(v)


def rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def cache_entries(spark) -> int:
    """Entries in the session's CacheManager (cached query plans)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return int(field.get(cm).size())


def main() -> int:
    import duckdb

    from arcadedb_spark.session import get_spark
    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark()
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    sc = spark.sparkContext
    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        group = f"oracle-{name}"
        sc.setJobGroup(group, group)
        cached = cache_entries(spark)
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
            error = None
        except Exception as e:
            error = f"{type(e).__name__}: {str(e)[:200]}"
        cost = (
            f"{time.perf_counter() - t0:.2f}s "
            f"{len(sc.statusTracker().getJobIdsForGroup(group))} jobs "
            f"{cache_entries(spark) - cached:+d} cached"
        )
        sc._jsc.clearJobGroup()
        if error is not None:
            print(f"FAIL {name} [{cost}]: spark error: {error}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"weak {name}: rows-only ({len(srows)} rows) [{cost}]")
            n_weak += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {type(e).__name__}: {str(e)[:200]}")
            n_fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns {sorted(scols)} vs {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} vs {len(orows)}")
        if not problems:
            sset = rowset(scols, [tuple(r) for r in srows])
            oset = rowset(ocols, orows)
            if sset != oset:
                diffs = [
                    (a, b) for a, b in zip(sset, oset) if a != b
                ][:3]
                problems.append(f"values differ, first diffs: {diffs}")
        if problems:
            print(f"FAIL {name} [{cost}]: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows) [{cost}]")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
