"""IVF (inverted-file) partitioned approximate nearest neighbor.

The reference's vector index is HNSW (jVector) with LSM staging
(index/vector/LSMVectorIndex.java:68-72) — a pointer-chasing in-memory
graph that has no scalable Spark analog.  The Spark-native scale path is
IVF: cluster the corpus into ``n_lists`` Voronoi cells (MLlib KMeans —
distributed, JVM), store each vector with its cell id (at rest: parquet
``partitionBy(cell)``), and at query time probe only the ``nprobe``
nearest cells — partition pruning turns a 100 TB scan into
nprobe/n_lists of the data.  Exact cosine re-rank inside the probed
cells.

Recall/cost tradeoff is the standard IVF curve; nprobe = n_lists
degrades gracefully to exact search.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from arcadedb_spark.session import local_df
from arcadedb_spark.vector.distance import cosine_similarity


class IVFIndex:
    """Cell assignments + centroids for one vector column."""

    def __init__(self, assigned: DataFrame, centroids: list[list[float]],
                 id_col: str, vec_col: str) -> None:
        self.assigned = assigned  # (id_col, vec_col, __cell)
        self.centroids = centroids
        self.id_col = id_col
        self.vec_col = vec_col

    def write(self, path: str) -> None:
        """Persist partitioned by cell — probe-time partition pruning."""
        self.assigned.write.mode("overwrite").partitionBy("__cell").parquet(path)


def ivf_build(
    data: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int = 16,
    max_iter: int = 5,
    seed: int = 42,
) -> IVFIndex:
    """KMeans-cluster the corpus into ``n_lists`` cells."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = data.select(id_col, vec_col).withColumn(
        "__fv", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    km = KMeans(
        k=n_lists, seed=seed, maxIter=max_iter,
        featuresCol="__fv", predictionCol="__cell",
    )
    model = km.fit(feat)
    assigned = model.transform(feat).select(id_col, vec_col, "__cell")
    centroids = [c.tolist() for c in model.clusterCenters()]
    return IVFIndex(assigned, centroids, id_col, vec_col)


def ivf_search(
    index: IVFIndex,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k by cosine among the ``nprobe`` cells nearest the query.

    Cell choice is a driver-side numpy argsort over the (tiny) centroid
    table; the cluster-side work is a pruned scan + TakeOrderedAndProject.
    """
    q = np.asarray(query, dtype=float)
    cents = np.asarray(index.centroids, dtype=float)
    # nearest centroids by euclidean (KMeans trains euclidean)
    order = np.argsort(((cents - q) ** 2).sum(axis=1))
    probe = [int(c) for c in order[: max(1, nprobe)]]

    qcol = F.array(*[F.lit(float(v)) for v in query])
    cand = index.assigned.filter(F.col("__cell").isin(probe))
    return (
        cand.select(
            F.col(index.id_col),
            cosine_similarity(F.col(index.vec_col), qcol).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(index.id_col))
        .limit(k)
    )


def ivf_search_join(
    index: IVFIndex,
    queries: DataFrame,
    q_id: str,
    q_vec: str,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Batch variant: k neighbors per query row.

    Queries are assigned to their nprobe cells via a broadcast centroid
    table, then equi-joined to the corpus on cell id — the shuffle is
    bounded by probed-cell sizes, never |Q|·|D|.
    """
    spark = queries.sparkSession
    cent_rows = [
        (int(i), [float(x) for x in c]) for i, c in enumerate(index.centroids)
    ]
    cents = local_df(spark, cent_rows, "__cell int, __centroid array<double>")
    qx = queries.select(F.col(q_id).alias("q_id"), F.col(q_vec).alias("__qv"))
    # rank cells per query by euclidean distance to the centroid
    qc = (
        qx.crossJoin(F.broadcast(cents))
        .withColumn(
            "__d2",
            F.aggregate(
                F.zip_with(
                    F.col("__qv").cast("array<double>"),
                    F.col("__centroid"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        .withColumn(
            "__cr",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.asc("__d2"), F.asc("__cell"))
            ),
        )
        .filter(F.col("__cr") <= max(1, nprobe))
        .select("q_id", "__qv", "__cell")
    )
    pairs = qc.join(index.assigned, "__cell").select(
        "q_id",
        F.col(index.id_col).alias("d_id"),
        cosine_similarity(F.col("__qv"), F.col(index.vec_col)).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("d_id"))
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("q_id", "d_id", "score", F.col("__rn").alias("rank"))
    )
