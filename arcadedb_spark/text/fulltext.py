"""Inverted index + BM25 scoring as DataFrame programs.

Scoring parity target: index/fulltext/BM25Scorer.java —
    idf(N, df)    = ln((N − df + 0.5)/(df + 0.5) + 1)       (Lucene variant)
    term(idf, tf) = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
with k1 = 1.2, b = 0.75 (DEFAULT_K1/DEFAULT_B, BM25Scorer.java:43,49).
Analyzer parity: lowercase, split on non-word chars (the reference's
default analyzer in LSMTreeFullTextIndex).

Scale: postings are (term, doc_id, tf) — groupBy term for df, broadcast
the (tiny) query-term stats, one shuffle for the score aggregation.  At
100 TB the postings build is a flatMap + two map-side-combinable
aggregations; no driver-side state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arcadedb_spark.session import local_df

DEFAULT_K1 = 1.2
DEFAULT_B = 0.75

_TOKEN_SPLIT = r"[^\p{L}\p{N}]+"


def tokenize(col) -> F.Column:
    """Lowercase \\W+ tokenizer (reference default analyzer)."""
    col = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.lower(col), _TOKEN_SPLIT), lambda t: F.length(t) > 0
    )


def build_postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(term, doc_id, tf) postings — the inverted-index DataFrame."""
    from arcadedb_spark.parallel import ensure_min_partitions

    src = ensure_min_partitions(docs.select(id_col, text_col))
    return (
        src.select(F.col(id_col).alias("doc_id"), tokenize(text_col).alias("__toks"))
        .select("doc_id", F.explode("__toks").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )


def doc_lengths(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("doc_id"), F.size(tokenize(text_col)).alias("dl")
    )


def bm25_search(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    postings: DataFrame | None = None,
    lengths: DataFrame | None = None,
) -> DataFrame:
    """Score every document containing ≥1 query term; returns
    (doc_id, score) — the DataFrame analog of
    ``SELECT FROM doc WHERE search_index('idx', query)`` with BM25
    ordering (function/sql/text/SQLFunctionSearchIndex.java).
    """
    if postings is None:
        # Fast path for ad-hoc search: only the query's terms matter, and
        # their per-doc tf is computable INSIDE the token array
        # (F.filter + size) — no explode, no postings shuffle.  Two scans
        # of a cached token frame: one tiny agg for (N, avgdl, df_t),
        # one scoring projection.  Pass a prebuilt ``postings`` frame to
        # reuse a persisted index instead (the LSMTreeFullTextIndex
        # analog).
        from arcadedb_spark.parallel import ensure_min_partitions

        terms = [t for t in dict.fromkeys(query.lower().split()) if t]
        if not terms:  # empty query matches nothing (reference: empty
            # Lucene query parses to no clauses — zero hits)
            return (
                docs.select(F.col(id_col).alias("doc_id"))
                .withColumn("score", F.lit(0.0))
                .limit(0)
            )
        toks = ensure_min_partitions(docs.select(id_col, text_col)).select(
            F.col(id_col).alias("doc_id"),
            tokenize(F.col(text_col)).alias("__t"),
        )
        def _eq(term):  # closure factory — a default-arg lambda would be
            return lambda x: x == F.lit(term)  # read as an (elem, idx) fn

        for i, t in enumerate(terms):
            toks = toks.withColumn(f"__tf{i}", F.size(F.filter("__t", _eq(t))))
        from arcadedb_spark.caching import bounded_cache

        toks = bounded_cache(toks.withColumn("__dl", F.size("__t")).drop("__t"))
        # Corpus stats ride a 1-row broadcast join instead of a driver
        # collect(): the whole search is ONE action / one DAG (the
        # broadcast exchange materializes the cached token frame, the
        # probe side re-reads it), which both drops a job's fixed
        # latency here and keeps stats executor-side at cluster scale.
        stats = toks.agg(
            F.count(F.lit(1)).alias("__n"),
            F.coalesce(F.avg("__dl"), F.lit(1.0)).alias("__avgdl"),
            *[
                F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
                for i in range(len(terms))
            ],
        )
        joined = toks.crossJoin(F.broadcast(stats))
        denom_norm = k1 * (1 - b + b * F.col("__dl") / F.col("__avgdl"))
        score = None
        for i in range(len(terms)):
            tf = F.col(f"__tf{i}")
            idf = F.log(
                (F.col("__n") - F.col(f"__df{i}") + 0.5)
                / (F.col(f"__df{i}") + 0.5)
                + 1.0
            )
            s = F.when(
                tf > 0, idf * (tf * (k1 + 1)) / (tf + denom_norm)
            ).otherwise(F.lit(0.0))
            score = s if score is None else score + s
        matched = None
        for i in range(len(terms)):
            c = F.col(f"__tf{i}") > 0
            matched = c if matched is None else matched | c
        return (
            joined.filter(matched if matched is not None else F.lit(False))
            .select("doc_id", score.alias("score"))
        )
    if lengths is None:
        lengths = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    n_docs = docs.count()
    total_tokens = postings.agg(F.sum("tf")).collect()[0][0] or 0
    avgdl = total_tokens / n_docs if n_docs else 1.0

    terms = [t for t in set(query.lower().split()) if t]
    qterms = local_df(postings.sparkSession, [(t,) for t in terms], "term string")
    hits = postings.join(F.broadcast(qterms), "term")
    df_counts = hits.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = df_counts.withColumn(
        "idf",
        F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
    )
    scored = (
        hits.join(F.broadcast(idf.select("term", "idf")), "term")
        .join(lengths, "doc_id")
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.lit(float(avgdl)))),
        )
        .groupBy("doc_id")
        .agg(F.sum("term_score").alias("score"))
    )
    return scored
