"""Flat-cost lineage truncation for DataFrame-iterative algorithms.

Why not ``Dataset.localCheckpoint`` / ``checkpoint``: measured on Spark
4.1.2, calling either in a loop retains compounding driver-side JVM state
(plan-tree lazy vals / Tungsten pages roughly double per checkpoint after
~7 chained checkpoints) even though the logical plan, RDD lineage and
partition counts all stay constant — a 6-vertex Leiden run went
8 supersteps = 11 s, 10 supersteps = OOM.  Forced full GC does not
reclaim it, and AQE / auto-broadcast / constraint propagation settings do
not change the shape, so it is not recomputation and not plan growth —
the ``LogicalRDD`` produced by the checkpoint path itself pins state.

A distributed parquet roundtrip has none of that: the re-read frame is a
plain file-scan relation that references nothing from the producing
query.  Measured flat at ~0.6 s/iteration with stable heap over 15+
iterations on the same workload that OOMs with localCheckpoint at 10.

Scale notes: write+read are both fully distributed (columnar, splittable),
exactly the durability/cost model of a reliable ``checkpoint(dir)``.  On
a real cluster point ``arcadedb.lineage.dir`` at shared storage (HDFS /
object store); files persist for the life of the session because the
returned frame re-reads them on every downstream action.

The re-read is handed the written frame's schema.  Inferring it would
open the parquet footers just written in a Spark job of its own -- one
job more per truncation -- only to find the schema the writer already
had.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame

_counter = itertools.count()
_roots: dict[str, str] = {}  # spark app id -> session-scoped temp root


def _root_for(spark) -> str:
    app_id = spark.sparkContext.applicationId
    root = _roots.get(app_id)
    if root is None or not os.path.isdir(root):
        base = spark.conf.get("arcadedb.lineage.dir", None) or tempfile.gettempdir()
        root = tempfile.mkdtemp(prefix=f"arcadedb-lineage-{app_id}-", dir=base)
        _roots[app_id] = root
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def truncate_plan(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and return a frame whose plan is a bare parquet
    scan — hard lineage/plan truncation with flat per-call cost (see
    module docstring for why this replaces ``localCheckpoint``)."""
    spark = df.sparkSession
    path = os.path.join(_root_for(spark), f"t{next(_counter)}")
    df.write.mode("overwrite").parquet(path)
    return spark.read.schema(df.schema).parquet(path)


# Extension method so iterative loops keep their fluent chaining style:
#     frontier = (frontier.join(...).groupBy(...).agg(...)).truncate_plan()
DataFrame.truncate_plan = truncate_plan
