"""Incremental / periodic materialized-view refresh
(schema/MaterializedViewRefresher.java INCREMENTAL + PERIODIC modes)."""

from __future__ import annotations

import time

import pytest

from arcadedb_spark.database import Database


@pytest.fixture()
def mdb(spark):
    db = Database(spark)
    db.command("CREATE DOCUMENT TYPE Sale")
    db.command("INSERT INTO Sale (region, amount) VALUES ('n', 10), ('s', 20)")
    return db


def test_incremental_append_only_delta(mdb):
    mdb.command(
        "CREATE MATERIALIZED VIEW BigSales AS "
        "SELECT region, amount FROM Sale WHERE amount > 15 "
        "REFRESH INCREMENTAL"
    )
    assert mdb.query("SELECT FROM BigSales").count() == 1
    mdb.command("INSERT INTO Sale (region, amount) VALUES ('e', 30), ('w', 5)")
    # refresh applies the view predicate to the delta only and unions
    n = mdb.command("REFRESH MATERIALIZED VIEW BigSales").collect()[0][0]
    assert n == 1  # only ('e', 30) qualifies from the delta
    rows = {(r["region"], r["amount"])
            for r in mdb.query("SELECT FROM BigSales").collect()}
    assert rows == {("s", 20), ("e", 30)}


def test_incremental_noop_without_changes(mdb):
    mdb.command(
        "CREATE MATERIALIZED VIEW AllSales AS SELECT region FROM Sale "
        "REFRESH INCREMENTAL"
    )
    n = mdb.command("REFRESH MATERIALIZED VIEW AllSales").collect()[0][0]
    assert n == 0  # nothing changed → no work


def test_incremental_update_forces_full(mdb):
    mdb.command(
        "CREATE MATERIALIZED VIEW Totals AS "
        "SELECT region, sum(amount) AS total FROM Sale GROUP BY region "
        "REFRESH INCREMENTAL"
    )
    mdb.command("UPDATE Sale SET amount = 11 WHERE region = 'n'")
    mdb.command("REFRESH MATERIALIZED VIEW Totals")
    totals = {r["region"]: r["total"]
              for r in mdb.query("SELECT FROM Totals").collect()}
    assert totals["n"] == 11


@pytest.mark.slow
def test_periodic_refresher(mdb):
    mdb.command(
        "CREATE MATERIALIZED VIEW Live AS SELECT region FROM Sale "
        "REFRESH INCREMENTAL"
    )
    h = mdb.start_mv_refresher("Live", 0.5)
    try:
        mdb.command("INSERT INTO Sale (region, amount) VALUES ('z', 1)")
        deadline = time.time() + 15
        while time.time() < deadline:
            regions = {r["region"]
                       for r in mdb.query("SELECT FROM Live").collect()}
            if "z" in regions:
                break
            time.sleep(0.3)
        assert "z" in regions
    finally:
        h.stop()


def test_incremental_aggregated_bucket_refresh(mdb):
    mdb.command(
        "CREATE MATERIALIZED VIEW RegionTotals AS "
        "SELECT region, sum(amount) AS total FROM Sale GROUP BY region "
        "REFRESH INCREMENTAL"
    )
    before = {r["region"]: r["total"]
              for r in mdb.query("SELECT FROM RegionTotals").collect()}
    assert before == {"n": 10, "s": 20}
    # delta touches ONE bucket ('n'); refresh must recompute only it
    mdb.command("INSERT INTO Sale (region, amount) VALUES ('n', 5)")
    n = mdb.command("REFRESH MATERIALIZED VIEW RegionTotals").collect()[0][0]
    assert n == 1  # one dirty bucket re-aggregated, not the whole view
    after = {r["region"]: r["total"]
             for r in mdb.query("SELECT FROM RegionTotals").collect()}
    assert after == {"n": 15, "s": 20}
    # a delta adding a NEW bucket splices in without touching the rest
    mdb.command("INSERT INTO Sale (region, amount) VALUES ('e', 7)")
    n = mdb.command("REFRESH MATERIALIZED VIEW RegionTotals").collect()[0][0]
    assert n == 1
    after = {r["region"]: r["total"]
             for r in mdb.query("SELECT FROM RegionTotals").collect()}
    assert after == {"n": 15, "s": 20, "e": 7}


def test_full_refresh_keeps_the_fresh_cache(mdb):
    """With the base tables unchanged, REFRESH re-translates to a plan that
    ``sameResult``s the cached one; the view must still be cached after
    the old frame is released."""
    mdb.command(
        "CREATE MATERIALIZED VIEW RegionSums AS "
        "SELECT region, sum(amount) AS total FROM Sale GROUP BY region"
    )
    assert mdb.query("SELECT FROM RegionSums").count() == 2
    assert mdb.command("REFRESH MATERIALIZED VIEW RegionSums").collect()[0][0] == 2
    assert mdb.schema.get("RegionSums").df().storageLevel.useMemory
