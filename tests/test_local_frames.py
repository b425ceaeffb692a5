"""Python rows become JVM ``LocalRelation``s (``session.local_df``): no
Python worker runs behind a command result, an INSERT row, a kv write or
a Gremlin count, and the point reads on top of them run one job each."""

from __future__ import annotations

import datetime

from conftest import spark_jobs as _jobs

from arcadedb_spark.session import local_df


def _leaf(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def _partitions(df) -> int:
    return df._jdf.rdd().getNumPartitions()


def test_rows_become_a_local_relation(spark):
    df = local_df(
        spark,
        [(1, None, [1, None], {"k": 2}, ("x", 3.5), datetime.date(2024, 1, 2))],
        "a long, b string, c array<long>, m map<string,long>, "
        "s struct<p:string,q:double>, d date",
    )
    assert _leaf(df) == "LocalRelation"
    rows, jobs = _jobs(spark, df.collect)
    assert jobs == 0
    r = rows[0]
    assert (r.a, r.b, r.c, r.m, tuple(r.s), r.d) == (
        1, None, [1, None], {"k": 2}, ("x", 3.5), datetime.date(2024, 1, 2)
    )
    empty = local_df(spark, [], "a long")
    assert _leaf(empty) == "LocalRelation"
    assert _jobs(spark, empty.collect) == ([], 0)


def test_dict_rows_and_inferred_schemas(spark):
    df = local_df(spark, [{"b": 2, "a": "x"}, {"a": "y"}])
    assert df.columns == ["a", "b"] and _leaf(df) == "LocalRelation"
    assert [tuple(r) for r in df.collect()] == [("x", 2), ("y", None)]
    named = local_df(spark, [("n", 1)], ["name", "v"])
    assert named.columns == ["name", "v"]
    assert [tuple(r) for r in named.collect()] == [("n", 1)]


def test_untypable_rows_fall_back_to_one_slice(spark):
    # a heterogeneous Cypher variable puts ints under a string column:
    # pyarrow refuses them, the one-slice RDD coerces them as
    # createDataFrame always did
    df = local_df(spark, [(1, "a"), ("b", 2)], "k string, v string")
    assert _leaf(df) != "LocalRelation"
    assert _partitions(df) == 1
    assert [tuple(r) for r in df.collect()] == [("1", "a"), ("b", "2")]
    # pyarrow would truncate 1.5 under a long column; Spark rejects it
    lossy = local_df(spark, [(1.5,)], "x long")
    assert _leaf(lossy) != "LocalRelation"


def test_dml_result_collects_without_a_job(db, spark):
    db.command("CREATE DOCUMENT TYPE LfResultDoc")
    res = db.command(
        "INSERT INTO LfResultDoc (name) VALUES ('a'), ('b'), ('c')"
    )
    # 3 rows of one string column: no cached type state can stand in for
    # the result's LocalRelation, which would cost a cache-scan job
    assert _jobs(spark, res.collect) == ([(3,)], 0)


def test_one_row_insert_adds_one_partition(db):
    db.command("CREATE DOCUMENT TYPE LfPartDoc")
    db.command("INSERT INTO LfPartDoc SET name = 'a', n = 1")
    before = _partitions(db.schema.get("LfPartDoc").df())
    db.command("INSERT INTO LfPartDoc SET name = 'b', n = 2")
    assert _partitions(db.schema.get("LfPartDoc").df()) == before + 1


def test_kv_get_runs_one_job(db, spark):
    kv = db.kv("lf_kv")
    for i in range(10):
        kv.set("k", f"v{i}")
    kv.set("other", "x")
    assert _jobs(spark, lambda: kv.get("k")) == ("v9", 1)
    assert _jobs(spark, lambda: kv.exists("k")) == (True, 1)
    kv.hset("h", f="1")
    assert _jobs(spark, lambda: kv.hget("h", "f")) == ("1", 1)


def test_gremlin_count_builds_lazily(db, spark):
    text = "g.V('Customer').has('c_custkey', 1).out('PLACED').count()"
    df, jobs = _jobs(spark, lambda: db.query(text, language="gremlin"))
    assert jobs == 0
    expect = db.query(
        "SELECT count(*) AS n FROM orders WHERE o_custkey = 1"
    ).collect()[0]["n"]
    assert [tuple(r) for r in df.collect()] == [(expect,)]
    assert df.columns == ["count"]
    none = db.query(
        "g.V('Customer').has('c_custkey', -1).out('PLACED').count()",
        language="gremlin",
    )
    assert [tuple(r) for r in none.collect()] == [(0,)]
