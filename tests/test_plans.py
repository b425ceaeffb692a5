"""Physical-plan assertions: the plans we want at 100 TB, guarded at sf0.001.

A correct-but-unscalable plan is a bug: these tests pin predicate
pushdown, column pruning and broadcast-join selection so a translator
change can't silently regress them.
"""

from __future__ import annotations


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(db):
    df = db.query(
        "SELECT l_orderkey FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.05"
    )
    plan = _plan(df)
    assert "l_quantity" in plan.split("DataFilters")[1].split("]")[0]


def test_column_pruning(db):
    df = db.query("SELECT l_orderkey, l_quantity FROM lineitem")
    plan = _plan(df)
    scan = [line for line in plan.splitlines() if "FileScan" in line][0]
    # only the two projected columns are read
    assert "l_extendedprice" not in scan and "l_returnflag" not in scan


def test_link_join_broadcasts_dims(db):
    df = db.query(
        "SELECT c_nationkey.n_regionkey.r_name AS region, count(*) AS n "
        "FROM customer GROUP BY region"
    )
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # nation and region broadcast


def test_match_join_on_long_keys(db):
    df = db.query(
        "MATCH {type: Customer, as: c}.out('PLACED'){as: o} RETURN count(*) AS n"
    )
    plan = _plan(df)
    # no cartesian product in a connected pattern
    assert "CartesianProduct" not in plan


def test_count_star_prunes_all_columns(db):
    df = db.query("SELECT count(*) AS n FROM lineitem")
    plan = _plan(df)
    scan = [line for line in plan.splitlines() if "FileScan" in line][0]
    assert "ReadSchema: struct<>" in scan  # metadata-only count


def test_point_geo_ops_stay_jvm_side(db):
    # point construction/extraction/haversine must not enter Python:
    # no ArrowEvalPython/BatchEvalPython node in the plan
    df = db.query(
        "SELECT geo.x(geo.point(c_custkey, 1)) AS x, "
        "geo.distance(geo.point(0, 0), geo.point(1, 1), 'km') AS d, "
        "sorensenDiceSimilarity(c_name, c_mktsegment) AS sd "
        "FROM customer"
    )
    plan = _plan(df)
    assert "EvalPython" not in plan
    # higher-order exprs (transform lambdas) sit outside codegen but stay
    # JVM-side; the scan itself must still be inside a codegen stage
    assert "*(" in plan


def test_polygon_geo_ops_are_arrow_batched(db):
    # polygon predicates go through pandas UDFs — Arrow-batched, never
    # row-at-a-time pickled Python
    df = db.query(
        "SELECT geo.within(geo.point(c_custkey, 1), geo.rectangle(0, 0, 50, 50)) AS w "
        "FROM customer"
    )
    plan = _plan(df)
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan


def test_promql_grid_broadcasts(db, spark):
    from pyspark.sql import functions as F
    from arcadedb_spark.timeseries.promql import promql_instant

    ev = db.table("events")
    m = ev.select(
        F.lit("ev").alias("metric"),
        F.create_map(F.lit("event_type"), F.col("event_type")).alias("labels"),
        F.unix_millis("ts").alias("ts_millis"),
        F.col("value").cast("double").alias("value"),
    )
    df = promql_instant(m, "ev", 1_700_000_000_000)
    plan = _plan(df)
    # the eval grid joins broadcast — samples never shuffle for the join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_no_unbounded_global_windows_in_algorithms():
    """Every unpartitioned Window anywhere in the package must be
    explicitly marked as bounded (one row per partition/layer/k, or a
    limit()-capped input) — an unmarked Window.orderBy funnels all rows
    through a single task at scale."""
    import glob
    import os

    root = os.path.join(os.path.dirname(__file__), "..", "arcadedb_spark")
    offenders = []
    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        lines = open(path).read().splitlines()
        for i, line in enumerate(lines):
            if "Window.orderBy(" not in line or line.lstrip().startswith("#"):
                continue
            context = "\n".join(lines[max(0, i - 3):i])
            if "bounded-window ok" not in context:
                offenders.append(f"{os.path.basename(path)}:{i + 1}")
    assert not offenders, (
        "unpartitioned Window without a bounded-window marker: "
        f"{offenders}"
    )


def test_algorithms_share_one_checkpoint_cadence():
    """graph/superstep.py owns the lineage-truncation cadence of every
    superstep and frontier loop; a graph module defining or reading a
    ``_CHECKPOINT_EVERY`` of its own would fork it again."""
    import glob
    import os

    root = os.path.join(os.path.dirname(__file__), "..", "arcadedb_spark", "graph")
    offenders = [
        os.path.basename(path)
        for path in glob.glob(os.path.join(root, "*.py"))
        if os.path.basename(path) != "superstep.py"
        and "_CHECKPOINT_EVERY" in open(path).read()
    ]
    assert not offenders, f"per-module checkpoint cadence in: {offenders}"


def test_frontier_loops_truncate_only_through_supersteps():
    """The query skins' frontier loops leave truncation to
    ``Supersteps.carry``/``finish``: a ``truncate_plan()`` call inside a
    ``for``/``while`` body is a private cadence (or a per-hop parquet
    round trip) again."""
    import ast
    import os

    root = os.path.join(os.path.dirname(__file__), "..", "arcadedb_spark", "graph")
    offenders = []
    for name in ("traverse.py", "match.py", "gremlin.py", "procedures_path.py"):
        tree = ast.parse(open(os.path.join(root, name)).read())
        for loop in ast.walk(tree):
            if not isinstance(loop, (ast.For, ast.While)):
                continue
            for node in ast.walk(loop):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "truncate_plan"
                ):
                    offenders.append(f"{name}:{node.lineno}")
    assert not offenders, f"truncate_plan() inside a loop at: {sorted(set(offenders))}"


def test_level_loops_all_have_a_plan_size_guard():
    """Every ``Supersteps(level=...)`` loop in the package has a case in
    the plan-size guard (``tests/test_superstep.py::LEVEL_LOOPS``, keyed by
    module and enclosing function), so a new frontier loop cannot skip
    it; and no call passes the ``accumulating=`` flag the level driver
    replaced."""
    import ast
    import glob
    import os

    from test_superstep import LEVEL_LOOPS

    root = os.path.join(os.path.dirname(__file__), "..", "arcadedb_spark")
    sites, flags = set(), []

    def visit(node, scope, module):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.ClassDef)):
                inner = [*scope, child.name]
            if isinstance(child, ast.Call):
                kws = {k.arg for k in child.keywords}
                if "accumulating" in kws:
                    flags.append(f"{module}:{child.lineno}")
                if (
                    isinstance(child.func, ast.Name)
                    and child.func.id == "Supersteps"
                    and (child.args or "level" in kws)
                ):
                    sites.add(".".join([module, *scope]))
            visit(child, inner, module)

    for path in glob.glob(os.path.join(root, "**", "*.py"), recursive=True):
        module = os.path.basename(path)[: -len(".py")]
        visit(ast.parse(open(path).read()), [], module)
    assert sites == set(LEVEL_LOOPS), (
        f"unguarded: {sorted(sites - set(LEVEL_LOOPS))}, "
        f"stale: {sorted(set(LEVEL_LOOPS) - sites)}"
    )
    assert not flags, f"accumulating= at: {flags}"


def test_algorithms_fire_no_discarded_count_probes():
    """A ``<frame>.count()`` statement whose result is thrown away (the
    ``e.count()  # materialize once`` pattern) costs a Spark job that does
    no algorithm work: a cached frame is filled by the first superstep
    that reads it, and ``Supersteps.step`` is where a loop's action goes."""
    import ast
    import glob
    import os

    root = os.path.join(os.path.dirname(__file__), "..", "arcadedb_spark", "graph")
    offenders = []
    for path in glob.glob(os.path.join(root, "algorithms*.py")):
        for node in ast.walk(ast.parse(open(path).read())):
            call = node.value if isinstance(node, ast.Expr) else None
            if (
                isinstance(call, ast.Call)
                and isinstance(call.func, ast.Attribute)
                and call.func.attr == "count"
                and not call.args
            ):
                offenders.append(f"{os.path.basename(path)}:{node.lineno}")
    assert not offenders, f"discarded count() probes at: {offenders}"


def test_runtime_temporal_kernels_are_arrow_batched(spark):
    """Per-row temporal math over stored strings must run as Arrow-batched
    pandas UDFs (ArrowEvalPython), never row-pickled BatchEvalPython."""
    from pyspark.sql import functions as F

    from arcadedb_spark.sql.translator import (
        _temporal_component_col,
        _temporal_sort_key_col,
    )

    df = spark.createDataFrame(
        [("2024-03-05T10:30:00Z",), ("1999-12-31T23:59:59Z",)], "t string"
    ).select(
        _temporal_component_col(F.col("t"), "year").alias("y"),
        _temporal_sort_key_col(F.col("t")).alias("k"),
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    rows = {r.y for r in df.collect()}
    assert rows == {2024, 1999}
