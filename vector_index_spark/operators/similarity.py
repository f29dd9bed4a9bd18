"""Similarity joins.

``threshold_join`` is the distance-predicate flavor of the reference's
search (the distance-bound pattern in the dead multi-shard path,
source/dehnsw.h:349: ``processing_distance < distance_bound``), expressed
as a relational self/two-table join.

Scale note: the exact variant is quadratic and exists as the
oracle-checkable baseline; at 100 TB the same predicate runs after LSH
bucketing (see index.lsh.approx_similarity_join) or any blocking key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vector_index_spark.operators.knn import distance_column


def maxsim_retrieval(
    query_tokens: DataFrame,
    doc_tokens: DataFrame,
    k: int,
    qdoc_col: str = "qid",
    qtok_col: str = "qtok",
    ddoc_col: str = "doc_id",
    dtok_col: str = "dtok",
    qvec_col: str = "vec",
    dvec_col: str = "vec",
) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia,
    SIGIR'20): score(q, d) = sum over q's token vectors of the max dot
    product against d's token vectors; return the top-k docs per query.

    Both sides are multi-vector: one row per (doc, token, vec). The plan
    is pure Catalyst — broadcast the (small) query token set against the
    corpus token table, dot product as a codegen array expression, then
    max per (query, doc, query-token), sum per (query, doc), and a
    WindowGroupLimit top-k. The corpus-side table never shuffles before
    the per-(query,doc) aggregate, which is partial-aggregated map-side;
    shuffle volume is O(Q_tokens * matched docs), not corpus size.

    Scale path: the same shape with an ANN shortlist per query token
    (any index route) feeding the exact maxsim re-rank — the standard
    two-stage ColBERT serving plan.

    Returns (qid, rank, doc_id, score), score rounded to 6 decimals.
    """
    from vector_index_spark.functions.distance import seq_metric_arrow

    q = query_tokens.select(
        F.col(qdoc_col).alias("qid"),
        F.col(qtok_col).alias("__qt"),
        F.col(qvec_col).alias("__qv"),
    )
    d = doc_tokens.select(
        F.col(ddoc_col).alias("doc_id"),
        F.col(dtok_col).alias("__dt"),
        F.col(dvec_col).alias("__dv"),
    )
    # round 16: the per-pair dot was an interpreted higher-order
    # expression (aggregate over zip_with — no codegen) costing ~2d
    # interpreter dispatches per crossed row; seq_metric_arrow("dot")
    # computes the BIT-IDENTICAL left-to-right fold in one vectorized
    # pass per Arrow batch, so every downstream value (max, sum, round)
    # is unchanged.
    # The plan keeps the same shape otherwise: broadcast cross join,
    # map-side partial max, two key-preserving aggregations.
    per_qtok = (
        d.crossJoin(F.broadcast(q))
        .withColumn(
            "__sim", seq_metric_arrow("dot")(F.col("__qv"), F.col("__dv"))
        )
        .groupBy("qid", "doc_id", "__qt")
        .agg(F.max("__sim").alias("__best"))
    )
    scored = per_qtok.groupBy("qid", "doc_id").agg(
        F.round(F.sum("__best"), 6).alias("score")
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score")
    )


def threshold_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    metric: str = "euclidean2",
    left_id: str = "id_a",
    right_id: str = "id_b",
    left_vec: str = "vec",
    right_vec: str = "vec",
    anti_reflexive: bool = True,
) -> DataFrame:
    """All pairs with distance(metric) < threshold.

    Returns (id_a, id_b, dist). If ``anti_reflexive`` (self-join case),
    keeps only id_a < id_b.
    """
    a = left.select(F.col(left_id).alias("id_a"), F.col(left_vec).alias("__va"))
    b = right.select(F.col(right_id).alias("id_b"), F.col(right_vec).alias("__vb"))
    pairs = a.crossJoin(b)
    if anti_reflexive:
        pairs = pairs.filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn(
            "dist", distance_column(metric, F.col("__va"), F.col("__vb"))
        )
        .filter(F.col("dist") < threshold)
        .select("id_a", "id_b", "dist")
    )
