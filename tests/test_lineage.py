"""lineage.truncate_plan: the parquet round trip keeps names, column
order, types and rows, and costs one Spark job."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import arcadedb_spark.lineage  # noqa: F401  (installs DataFrame.truncate_plan)


def test_truncate_plan_round_trip_is_one_job(spark):
    df = spark.createDataFrame(
        [
            ("#3:0", 1, Decimal("12.345"), dt.datetime(2024, 1, 2, 3, 4, 5),
             [1, 2], {"a": 1.5}, (7, "x")),
            ("#3:1", None, None, None, None, None, None),
        ],
        "`@rid` string, `$depth` int, price decimal(12,3), ts timestamp, "
        "hops array<long>, props map<string,double>, s struct<k:long,v:string>",
    )
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("truncate-plan-test", "truncate-plan-test")
    try:
        out = df.truncate_plan()
    finally:
        sc._jsc.clearJobGroup()
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(sc.statusTracker().getJobIdsForGroup("truncate-plan-test")) == 1
    assert out.columns == ["@rid", "$depth", "price", "ts", "hops", "props", "s"]
    assert [f.dataType.simpleString() for f in out.schema] == [
        f.dataType.simpleString() for f in df.schema
    ]
    assert sorted(out.collect()) == sorted(df.collect())
