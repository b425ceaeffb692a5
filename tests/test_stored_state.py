"""Stored state has one writer, ``catalog.store``: DML, MV refresh, kv and
bucket writes cache each new state (a bare ``LocalRelation`` excepted),
and the write that finds ``CHECKPOINT_EVERY`` states cached compacts, so
a long write stream keeps its cache entries, partitions and plan depth
bounded."""

from __future__ import annotations

import pytest
from conftest import cache_entries, spark_jobs

from arcadedb_spark.database import Database
from arcadedb_spark.lineage import CHECKPOINT_EVERY

WRITES = 3 * CHECKPOINT_EVERY + 2


def _insert(db, i):
    if i == 1:
        db.command("CREATE DOCUMENT TYPE SsIns")
    db.command(f"INSERT INTO SsIns SET a = {i}")
    return "SsIns"


def _update(db, i):
    if i == 1:
        db.command("CREATE DOCUMENT TYPE SsUpd")
        db.command("INSERT INTO SsUpd SET k = 1, a = 1")
    else:
        db.command(f"UPDATE SsUpd SET a = {i} WHERE k = 1")
    return "SsUpd"


def _kv_set(db, i):
    db.kv("ss_kv").set("k", i)
    return "ss_kv"


@pytest.mark.parametrize("write", [_insert, _update, _kv_set])
def test_write_streams_keep_their_state_bounded(spark, write):
    """Each of the last ``CHECKPOINT_EVERY`` writes leaves no more cache
    entries or analyzed-plan lines than the write one cadence before it,
    which came after the first compaction, and no state holds more
    partitions than a compacted re-read (at most twice the parallelism
    when parquet packs its files) plus one per write since.  The parent
    grew all three with every write."""
    db = Database(spark)
    seen = [None]  # seen[i]: after write i
    for i in range(1, WRITES + 1):
        name = write(db, i)
        df = db.schema.get(name).df()
        plan = df._jdf.queryExecution().analyzed().toString()
        seen.append((
            cache_entries(spark),
            len(plan.splitlines()),
            df._jdf.rdd().getNumPartitions(),
        ))
    for i in range(WRITES - CHECKPOINT_EVERY + 1, WRITES + 1):
        earlier = seen[i - CHECKPOINT_EVERY]
        assert seen[i][0] <= earlier[0] and seen[i][1] <= earlier[1], (
            f"write {i}: (entries, plan lines) {seen[i][:2]} > "
            f"{earlier[:2]} at write {i - CHECKPOINT_EVERY}"
        )
    most = 2 * spark.sparkContext.defaultParallelism + CHECKPOINT_EVERY
    assert max(s[2] for s in seen[1:]) <= most, [s[2] for s in seen[1:]]
    if write is _insert:
        got = db.query("SELECT count(*) AS n, max(a) AS m FROM SsIns").collect()
        assert tuple(got[0]) == (WRITES, WRITES)
    elif write is _update:
        assert [tuple(r) for r in db.query("SELECT k, a FROM SsUpd").collect()] == [
            (1, WRITES)
        ]
    else:
        assert db.kv("ss_kv").get("k") == str(WRITES)


def test_compaction_keeps_positional_rids(spark):
    """A keyless row's @rid is its position, which a compaction's re-read
    repacks: across CHECKPOINT_EVERY + 2 one-row INSERTs into a keyless
    type and into a named bucket every row keeps its first @rid, and so
    do the rows a DELETE or TRUNCATE RECORD of saved rids leaves."""
    db = Database(spark)
    db.command("CREATE DOCUMENT TYPE SsRid")
    db.command("CREATE BUCKET ss_rid_b")
    db.command("CREATE DOCUMENT TYPE SsRidB BUCKET ss_rid_b")
    first = {}

    def check(target):
        got = {r["a"]: r["@rid"] for r in db.query(f"SELECT @rid, a FROM {target}").collect()}
        for a, rid in got.items():
            assert first.setdefault((target, a), rid) == rid, (target, a)
        return sorted(got)

    for i in range(CHECKPOINT_EVERY + 2):
        db.command(f"INSERT INTO SsRid SET a = {i}")
        db.command(f"INSERT INTO bucket:ss_rid_b SET a = {i}")
        assert check("SsRid") == check("bucket:ss_rid_b") == list(range(i + 1))
    db.command("DELETE FROM SsRid WHERE a = 1")
    db.command(f"TRUNCATE RECORD {first['SsRid', 0]}, {first['SsRid', 5]}")
    assert check("SsRid") == [2, 3, 4, 6]


def test_rids_a_write_returns_address_its_rows(spark):
    """INSERT ... RETURN @rid gives the rid SELECT shows, on and off the
    compaction beat, and UPDATE and DELETE by that rid touch that row."""
    db = Database(spark)
    db.command("CREATE DOCUMENT TYPE SsRet")
    got = {}
    for i in range(CHECKPOINT_EVERY + 2):
        got[i] = db.command(f"INSERT INTO SsRet SET a = {i} RETURN @rid").collect()[0][0]
    assert {r["a"]: r["@rid"] for r in db.query("SELECT @rid, a FROM SsRet").collect()} == got
    assert db.command(f"UPDATE [{got[5]}] SET b = 1").collect() == [(1,)]
    assert db.command(f"DELETE FROM SsRet WHERE @rid = '{got[6]}'").collect() == [(1,)]
    rows = {r["a"]: r["b"] for r in db.query("SELECT a, b FROM SsRet").collect()}
    assert sorted(rows) == list(range(CHECKPOINT_EVERY + 1)) and rows[5] == 1


def test_full_refresh_keeps_one_state_of_the_view(spark):
    """A full MV recompute reads none of the view's old states, so it
    releases them: the view holds one cached state across refreshes."""
    db = Database(spark)
    db.command("CREATE DOCUMENT TYPE SsSrc")
    db.command("INSERT INTO SsSrc (g, v) VALUES ('a', 1), ('b', 2)")
    db.command(
        "CREATE MATERIALIZED VIEW SsSums AS SELECT g, sum(v) AS s FROM SsSrc GROUP BY g"
    )
    for i in range(CHECKPOINT_EVERY + 1):
        db.command(f"UPDATE SsSrc SET v = {i} WHERE g = 'a'")
        db.command("REFRESH MATERIALIZED VIEW SsSums")
        assert len(db.schema.get("SsSums")._cached) == 1
    sums = {r["g"]: r["s"] for r in db.query("SELECT FROM SsSums").collect()}
    assert sums == {"a": CHECKPOINT_EVERY, "b": 2}


def test_one_row_insert_runs_no_job(spark):
    """INSERT counts the rows it holds: off the compaction beat a one-row
    INSERT runs no Spark job (the parent counted them with two)."""
    db = Database(spark)
    db.command("CREATE DOCUMENT TYPE SsJobs")
    for i in range(1, CHECKPOINT_EVERY):
        res, jobs = spark_jobs(
            spark, lambda: db.command(f"INSERT INTO SsJobs SET a = {i}")
        )
        assert jobs == 0, f"insert {i}"
        assert res.collect() == [(1,)]
    assert db.query("SELECT count(*) FROM SsJobs").collect()[0][0] == (
        CHECKPOINT_EVERY - 1
    )


def test_insert_of_a_row_spark_rejects_still_fails(spark):
    """1.5 under the bigint column the first row declares takes the
    one-slice fallback, which Spark counts, so the INSERT itself fails and
    stores nothing."""
    db = Database(spark)
    db.command("CREATE DOCUMENT TYPE SsBad")
    with pytest.raises(Exception, match="1.5|DoubleType|LongType|bigint"):
        db.command("INSERT INTO SsBad (x) VALUES (1), (1.5)")
    assert db.query("SELECT count(*) FROM SsBad").collect()[0][0] == 0


def test_insert_keeps_the_rows_of_an_unread_type(spark):
    """A type registered from a frame and never read before its first
    INSERT keeps its rows (the parent stored the inserted row alone)."""
    db = Database(spark)
    db.register_type("SsBase", spark.range(3).toDF("k"))
    db.command("INSERT INTO SsBase SET k = 7")
    assert sorted(r[0] for r in db.query("SELECT k FROM SsBase").collect()) == [
        0, 1, 2, 7
    ]


def test_dml_result_is_not_served_from_a_type_cache(spark):
    """A type whose state is one bigint 1 never stands in for a later DML
    result with that canonical plan: the result collects from its own
    LocalTableScan without a job.  The INSERT that registers SsHit leaves
    a bare LocalRelation state, which ``store`` does not cache."""
    db = Database(spark)
    db.command("INSERT INTO SsHit SET a = 1")
    db.command("CREATE DOCUMENT TYPE SsHitToo")
    db.command("INSERT INTO SsHitToo SET a = 1")
    db.command("CREATE DOCUMENT TYPE SsOther")
    res = db.command("INSERT INTO SsOther SET b = 'x'")
    assert spark_jobs(spark, res.collect) == ([(1,)], 0)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "InMemoryTableScan" not in plan, plan


def test_graph_deletes_and_bucket_refresh_release_their_caches(spark):
    """DETACH DELETE releases the matched-id frame it caches, and an
    incremental GROUP BY refresh no longer caches its dirty keys: the
    refresh adds one entry, the view's new state."""
    db = Database(spark)
    for i in range(6):
        db.query(
            f"CREATE (:SsNode {{id: {i}}})-[:SS_LINK]->(:SsLeaf {{id: {i}}})",
            language="cypher",
        )
    db.query("MATCH (n:SsNode {id: 0}) DETACH DELETE n", language="cypher")
    before = cache_entries(spark)
    for i in range(1, 6):
        db.query(
            f"MATCH (n:SsNode {{id: {i}}}) DETACH DELETE n", language="cypher"
        )
    assert cache_entries(spark) == before
    assert db.query(
        "MATCH (n:SsNode) RETURN count(*) AS n", language="cypher"
    ).collect()[0]["n"] == 0

    db.command("CREATE DOCUMENT TYPE SsSale")
    db.command("INSERT INTO SsSale (region, amount) VALUES ('n', 10), ('s', 20)")
    db.command(
        "CREATE MATERIALIZED VIEW SsTotals AS SELECT region, sum(amount) AS t "
        "FROM SsSale GROUP BY region REFRESH INCREMENTAL"
    )
    db.command("INSERT INTO SsSale (region, amount) VALUES ('n', 5)")
    before = cache_entries(spark)
    assert db.command("REFRESH MATERIALIZED VIEW SsTotals").collect() == [(1,)]
    assert cache_entries(spark) == before + 1
    assert db.schema.get("SsTotals").df().storageLevel.useMemory
    totals = {r["region"]: r["t"] for r in db.query("SELECT FROM SsTotals").collect()}
    assert totals == {"n": 15, "s": 20}
