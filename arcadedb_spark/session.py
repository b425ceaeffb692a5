"""SparkSession factory tuned for the engine.

Scale posture: these configs are chosen for a real cluster (AQE on, skew
join handling, partition coalescing) and only the master/local bits differ
in tests.  On a 1000-executor cluster the same code runs unchanged; only
``spark.sql.shuffle.partitions`` should be raised (or left to AQE's
coalescing with a high initial value).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    FractionalType,
    IntegralType,
    StructType,
    _parse_datatype_string,
)

# Defaults match the driver harness: local[32], 32 shuffle partitions.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "arcadedb-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    - UTC session timezone (oracle comparisons are UTC-naive).
    - AQE enabled: runtime join re-planning, skew-join splitting and
      post-shuffle partition coalescing — this is what replaces the
      reference's hand-rolled cost model
      (query/opencypher/optimizer/CypherOptimizer.java:93).
    - Arrow enabled for the few Pandas-UDF code paths.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", _DEFAULT_CPUS)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 captures a Python call site (stack walk + py4j round
        # trip) on EVERY DataFrame API call for error enrichment; the
        # engine builds plans with thousands of calls per query, so this
        # is pure driver-side latency — disable it (errors still carry
        # the JVM-side origin).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # TIMESTAMP(NANOS) parquet (reference type DATETIME_NANOS,
        # schema/Type.java:96) is read as long and converted to micros by
        # the catalog loader — Spark has no nanos timestamp type.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Runtime Bloom-filter injection (guide §3.2) fires only on
        # shuffle joins whose application-side scan exceeds
        # applicationSideScanSizeThreshold (10 GB default — never at
        # bench SF, always on a 100-TB fact scan), but the default
        # creationSideThreshold of 10 MB is cluster-hostile: a
        # selectively-filtered build side of a multi-hop MATCH is
        # routinely hundreds of MB at scale and the bloom build (one
        # extra aggregate over it) is still ~free next to the fact-side
        # shuffle it prunes.  Raise it; both knobs stay env-overridable.
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            os.environ.get("SPARK_GRAFT_BLOOM_CREATION_MAX", "512MB"),
        )
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            os.environ.get("SPARK_GRAFT_BLOOM_APP_MIN", "10GB"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{_DEFAULT_CPUS}]")
    return builder.getOrCreate()


def local_df(spark: SparkSession, rows, schema=None) -> DataFrame:
    """Python rows on the driver as a frame: the engine's one way to build
    one (command results, INSERT rows, kv writes, catalog listings,
    procedure output, algorithm seeds).

    Never hand a Python list to ``spark.createDataFrame``: PySpark
    parallelizes it into ``defaultParallelism`` slices and re-serializes
    them through a ``map``, so every action on the frame runs one
    Python-worker task per slice, holding task slots that readers need.
    Here the rows become a pyarrow Table typed by the Spark schema, which
    Spark keeps as a JVM ``LocalRelation``: no RDD, no Python worker, a
    one-row ``collect()`` runs no job, nulls and nested values keep their
    values, and an empty list is a ``LocalRelation`` too.

    ``schema`` is a DDL string, a ``StructType``, a list of column names or
    ``None`` (both infer the types as ``createDataFrame`` does).  Dict rows
    are read by column name, other rows by position.  Rows pyarrow cannot
    type as declared (an int under a string column, as a heterogeneous
    Cypher variable produces), or could type only lossily (a float under an
    integral column, a bool under a fractional one), fall back to a
    one-slice RDD, which coerces or rejects them as ``createDataFrame``
    does.  Naive datetimes are read in the session time zone (UTC)."""
    rows = list(rows)
    if schema is None or isinstance(schema, (list, tuple)):
        names = schema
        schema = spark._inferSchemaFromList(rows, names=names)
        for f, name in zip(schema.fields, names or ()):
            f.name = name
        schema = StructType(schema.fields)
    elif isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if rows and isinstance(rows[0], dict):
        rows = [tuple(r.get(n) for n in schema.names) for r in rows]
    table = _arrow_table(rows, schema)
    if table is not None:
        return spark.createDataFrame(table, schema)
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


def in_driver(df: DataFrame) -> bool:
    """Whether ``df`` is a bare ``LocalRelation``, rows held in driver memory."""
    plan = df._jdf.queryExecution().analyzed()
    return plan.getClass().getSimpleName() == "LocalRelation"


def _arrow_table(rows: list, schema: StructType):
    """``rows`` as a pyarrow Table of ``schema``'s Arrow types, or None
    when pyarrow cannot type them exactly."""
    import pyarrow as pa
    from pyspark.errors import PySparkTypeError
    from pyspark.sql.pandas.types import to_arrow_schema

    width = len(schema.fields)
    if any(len(r) != width for r in rows):
        return None
    for i, f in enumerate(schema.fields):
        # pyarrow truncates 1.5 under int64 and reads True as 1.0
        if isinstance(f.dataType, IntegralType):
            bad = (float, bool)
        elif isinstance(f.dataType, FractionalType):
            bad = bool
        else:
            continue
        if any(isinstance(r[i], bad) for r in rows):
            return None
    try:
        arrow_schema = to_arrow_schema(schema)
        arrays = [
            pa.array([r[i] for r in rows], type=f.type)
            for i, f in enumerate(arrow_schema)
        ]
    except (PySparkTypeError, pa.ArrowException, TypeError, ValueError):
        return None
    if any(a.null_count and not f.nullable for a, f in zip(arrays, arrow_schema)):
        return None
    return pa.Table.from_arrays(arrays, schema=arrow_schema)
