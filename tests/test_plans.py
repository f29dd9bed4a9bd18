"""Physical-plan regression tests: the scale properties we rely on must be
visible in the plan, not assumed — broadcast of small sides, map-side
partial top-k (WindowGroupLimit), parquet filter/column pushdown, and no
full-corpus shuffle in the kNN paths (SURVEY §4, task requirement:
'.explain the plan and iterate until it's the plan you'd want')."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT
from vector_index_spark.operators.knn import knn_join
from vector_index_spark.operators.similarity import threshold_join


@pytest.fixture(scope="module")
def split(spark):
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    train = emb.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    test = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec")
    )
    return train, test


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_knn_plan_broadcasts_queries_and_limits_map_side(split):
    train, test = split
    plan = _plan(knn_join(test, train, 10))
    assert "BroadcastExchange" in plan, "query side must broadcast"
    # map-side partial top-k before the shuffle: two WindowGroupLimits
    assert plan.count("WindowGroupLimit") >= 2, plan
    # the corpus scan must not be re-shuffled before the join
    join_idx = plan.find("BroadcastNestedLoopJoin")
    assert join_idx != -1


def test_knn_pushes_filter_and_prunes_columns(split):
    train, test = split
    plan = _plan(knn_join(test, train, 10))
    assert "PushedFilters: [IsNotNull(vec_id)]" in plan
    # column pruning: the scan must read only the two needed columns
    assert "ReadSchema: struct<vec_id:bigint,embedding:array<float>>" in plan
    assert "label" not in plan.split("ReadSchema")[1][:200]


def test_threshold_join_is_broadcast_not_shuffle(split):
    train, _ = split
    a = train.select(F.col("id").alias("id_a"), "vec")
    b = train.select(F.col("id").alias("id_b"), "vec")
    plan = _plan(threshold_join(a, b, 1.25))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_star_agg_broadcasts_dimension(spark):
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    o = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    c = spark.read.parquet(f"{SF_CORRECT}/customer.parquet")
    q = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "l_returnflag")
        .agg(F.sum("l_quantity").alias("q"))
    )
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan
    # partial aggregation before the exchange (map-side combine)
    assert "partial_sum" in plan.lower() or "HashAggregate" in plan


def test_global_topk_uses_take_ordered(spark):
    o = spark.read.parquet(f"{SF_CORRECT}/orders.parquet")
    q = o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")).limit(50)
    plan = _plan(q)
    assert "TakeOrderedAndProject" in plan, plan

def test_chunking_plan_has_no_exchange(spark):
    from vector_index_spark.operators.chunking import chunk_documents

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    plan = _plan(chunk_documents(docs))
    # pure flatMap-shaped projection: explode over array exprs, no shuffle
    assert "Exchange" not in plan, plan
    assert "Generate explode" in plan or "Generate posexplode" in plan


def test_sampling_plan_is_scan_side_filter(spark):
    from vector_index_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    plan = _plan(stratified_sample(docs, {"src0": 1.0, "src1": 0.2}))
    assert "Exchange" not in plan, plan
    assert "Filter" in plan


def test_contamination_broadcasts_benchmark_not_corpus(spark):
    from vector_index_spark.operators.contamination import ngram_contamination

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 17 != 0)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    plan = _plan(ngram_contamination(corpus, bench, n=8))
    # the benchmark gram set broadcasts; the corpus side must join
    # without a shuffle on the gram key
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_hamming_plan_stays_integer_codegen(spark):
    from vector_index_spark.operators.hamming import hamming_knn

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    train = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    test = train.limit(10).select(F.col("id").alias("qid"), "vec")
    plan = _plan(hamming_knn(test, train, 5, dim=64))
    # broadcast the query side; no Python in the distance path
    assert "BroadcastNestedLoopJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_maxsim_plan_broadcasts_queries_with_partial_agg(spark):
    from vector_index_spark.operators.similarity import maxsim_retrieval

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    toks = emb.select(
        (F.col("vec_id") / 5).cast("long").alias("doc_id"),
        F.col("vec_id").alias("dtok"),
        F.col("embedding").alias("vec"),
    )
    q = toks.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("qid"), F.col("dtok").alias("qtok"), "vec"
    )
    d = toks.filter(F.col("doc_id") % 20 != 0)
    plan = _plan(maxsim_retrieval(q, d, 10))
    # query token set broadcasts; the dot product runs in exactly one
    # Arrow stage (seq_metric_arrow("dot")), never a row-at-a-time UDF
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "BatchEvalPython" not in plan
    # the per-(qid,doc,qtoken) max partial-aggregates map-side: below
    # (string-after, since plans print top-down) the last shuffle exchange
    below_last_exchange = plan.rsplit("Exchange hashpartitioning", 1)[-1]
    assert "partial_max" in below_last_exchange, plan
    assert "BroadcastNestedLoopJoin" in below_last_exchange, plan


def test_salted_join_no_python_and_joins_on_salt(spark):
    from vector_index_spark.operators.skew import salted_join

    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice"
    )
    o = spark.read.parquet(f"{SF_CORRECT}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plan = _plan(salted_join(li, o, on="l_orderkey", n_salts=8))
    # the join key must include the salt so the hot key spreads
    assert "__salt" in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketed by the join key with equal bucket counts:
    the join must read bucket-aligned with NO Exchange anywhere (and,
    with sorted buckets, no extra Sort for the merge join) — the
    write-once-join-many layout for 100 TB fact tables."""
    from vector_index_spark.operators.layout import bucketed_join, write_bucketed

    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice"
    )
    o = spark.read.parquet(f"{SF_CORRECT}/orders.parquet").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    write_bucketed(li, "t_li_bucketed", "okey", 8)
    write_bucketed(o, "t_o_bucketed", "okey", 8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "t_li_bucketed", "t_o_bucketed", "okey")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # identical result to the plain (shuffled) join
        assert joined.count() == li.join(o, "okey").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_single_pass_window_serving_plan_has_no_corpus_shuffle(split):
    """Round 11: the single-pass constrained engine's plans. The masked
    branch (wide windows at small k -> every group over the resident
    blobs) must re-rank through a BROADCAST hash join — the candidate
    relation comes out of a mapInPandas scan with no stats, and letting
    AQE pick a sort-merge join would re-shuffle the CORPUS every serving
    batch (the one cost a serving loop must never pay). The exact branch
    (narrow windows) must answer through one broadcast non-equi join —
    corpus scans once, never shuffles."""
    from vector_index_spark.index.pq import encode_pq, train_pq
    from vector_index_spark.index.serving import PqServingIndex

    train, test = split
    tr = train.withColumn("day", F.col("id") % 100)
    books = train_pq(tr.select("id", "vec"), n_subspaces=8, n_centroids=16)
    sidx = PqServingIndex(
        encode_pq(tr.select("id", "vec"), books).localCheckpoint(eager=True),
        tr, books, attr_col="day",
    ).warm()
    try:
        # wide windows (60 of 100 days ≈ 270 rows >> 8*k) -> masked pass
        wide = test.limit(6).select(
            "qid", "vec",
            (F.col("qid") % 30).alias("lo"),
            ((F.col("qid") % 30) + 60).alias("hi"),
        ).localCheckpoint(eager=True)
        plan = _plan(sidx.query_by_window(wide, 3))
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan

        # narrow windows (~4 rows each) -> the exact non-equi broadcast
        # join branch; corpus side must not exchange
        narrow = test.limit(6).select(
            "qid", "vec",
            (F.col("qid") % 90).alias("lo"),
            ((F.col("qid") % 90) + 1).alias("hi"),
        ).localCheckpoint(eager=True)
        plan = _plan(sidx.query_by_window(narrow, 3))
        assert "BroadcastNestedLoopJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
    finally:
        sidx.unpersist()
