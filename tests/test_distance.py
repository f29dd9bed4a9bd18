from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, compare_to_oracle, register_duck_views
from vector_index_spark.functions.distance import (
    cos_dist,
    dot,
    ip_dist,
    l2_norm,
    l2sq,
    normalize,
)


@pytest.fixture(scope="module")
def pairs(spark):
    """Self-join of embeddings into ~500 deterministic (a, b) pairs."""
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("aid"), F.col("embedding").alias("a"))
    b = emb.select(F.col("vec_id").alias("bid"), F.col("embedding").alias("b"))
    return a.join(b, F.col("bid") == (F.col("aid") + 1) % 500).select(
        "aid", "bid", "a", "b"
    )


def test_l2sq_known_values(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [1.0, 2.0, 3.0]), ([0.0, 0.0, 0.0], [3.0, 4.0, 0.0])],
        "a array<float>, b array<float>",
    )
    rows = df.select(l2sq(F.col("a"), F.col("b")).alias("d")).collect()
    assert rows[0]["d"] == 0.0
    assert rows[1]["d"] == 25.0


def test_metric_identities(pairs):
    rows = pairs.select(
        l2sq(F.col("a"), F.col("a")).alias("self_l2"),
        cos_dist(F.col("a"), F.col("a")).alias("self_cos"),
        l2sq(F.col("a"), F.col("b")).alias("ab"),
        l2sq(F.col("b"), F.col("a")).alias("ba"),
    ).collect()
    for r in rows:
        assert r["self_l2"] == 0.0
        assert abs(r["self_cos"]) < 1e-12
        assert r["ab"] == r["ba"]  # identical accumulation order -> bit-equal
        assert r["ab"] >= 0.0


def test_normalize_unit_norm(pairs):
    rows = (
        pairs.select(normalize(F.col("a")).alias("n"))
        .select(l2_norm(F.col("n")).alias("nn"))
        .collect()
    )
    for r in rows:
        assert math.isclose(r["nn"], 1.0, rel_tol=1e-12)


def test_l2sq_vs_duckdb(spark, duck, pairs):
    register_duck_views(duck, SF_CORRECT)
    sdf = pairs.select(
        "aid",
        "bid",
        F.round(l2sq(F.col("a"), F.col("b")), 6).alias("l2sq"),
        F.round(ip_dist(F.col("a"), F.col("b")), 6).alias("ip_dist"),
        F.round(cos_dist(F.col("a"), F.col("b")), 6).alias("cos_dist"),
    )
    sql = """
    WITH pairs AS (
      SELECT a.vec_id AS aid, b.vec_id AS bid,
             a.embedding::DOUBLE[] AS a, b.embedding::DOUBLE[] AS b
      FROM embeddings a JOIN embeddings b ON b.vec_id = (a.vec_id + 1) % 500
    )
    SELECT aid, bid,
      round(list_sum(list_transform(list_zip(a, b), p -> (p[1]-p[2])*(p[1]-p[2]))), 6) AS l2sq,
      round(1.0 - list_inner_product(a, b), 6) AS ip_dist,
      round(1.0 - list_cosine_similarity(a, b), 6) AS cos_dist
    FROM pairs
    """
    compare_to_oracle(sdf, duck, sql)


def test_zero_norm_cosine_is_null_on_every_form(spark):
    """A zero-norm row has no cosine. Under the session's ANSI mode the
    HOF kernel, the Arrow twin on a clean batch, and the twin's per-row
    fallback (the zero row sharing its Arrow batch with a NULL row) all
    return NULL for it; the other rows keep their values."""
    from vector_index_spark.functions.distance import seq_metric_arrow

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    zero, one, two = [0.0] * 4, [1.0, 2.0, 3.0, 4.0], [4.0, 3.0, 2.0, 1.0]
    schema = "i long, x array<double>, y array<double>"
    clean = [(0, zero, one), (1, one, two), (2, zero, zero)]
    with_null = [(0, zero, one), (1, one, two), (2, None, one)]
    for rows in (clean, with_null):
        got = (
            spark.createDataFrame(rows, schema)
            .coalesce(1)  # one partition -> one Arrow batch
            .select(
                "i",
                cos_dist(F.col("x"), F.col("y")).alias("hof"),
                seq_metric_arrow("cosine_similarity")(
                    F.col("x"), F.col("y")
                ).alias("twin"),
            )
            .orderBy("i")
            .collect()
        )
        assert [(r["hof"], r["twin"]) for r in got] == [
            (None, None), (got[1]["hof"], got[1]["hof"]), (None, None),
        ]
        assert got[1]["hof"] == pytest.approx(1.0 - 20.0 / 30.0)


def test_dot_twin_null_and_ragged_rows_match_hof(spark):
    """``seq_metric_arrow("dot")`` bit-equals the HOF ``dot`` on clean
    rows and, like it, returns NULL for a NULL or ragged row in the
    same Arrow batch instead of failing the batch."""
    from vector_index_spark.functions.distance import seq_metric_arrow

    rows = [
        (0, [1.0, 2.0], [3.0, 4.0]),
        (1, [1.0, 2.0, 3.0], [1.0, 2.0]),
        (2, None, [1.0, 2.0]),
        (3, [0.1, 0.2], [0.3, 0.7]),
    ]
    got = (
        spark.createDataFrame(rows, "i long, x array<double>, y array<double>")
        .coalesce(1)
        .select(
            "i",
            dot(F.col("x"), F.col("y")).alias("hof"),
            seq_metric_arrow("dot")(F.col("x"), F.col("y")).alias("twin"),
        )
        .orderBy("i")
        .collect()
    )
    assert [r["twin"] for r in got] == [r["hof"] for r in got]
    assert [r["hof"] for r in got][:3] == [11.0, None, None]


def test_assert_dim_passes_and_raises(spark):
    from py4j.protocol import Py4JJavaError
    import pytest as _pytest

    from vector_index_spark.functions.distance import assert_dim

    ok = spark.createDataFrame([(1, [1.0, 2.0])], "id long, vec array<double>")
    assert assert_dim(ok, "vec", 2).count() == 1
    bad = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0])], "id long, vec array<double>"
    )
    # count() prunes the vec column, so the probe must be forced by an
    # action that actually reads vectors (as every kernel does)
    assert assert_dim(bad, "vec", 2).count() == 2
    with _pytest.raises(Exception) as ei:
        assert_dim(bad, "vec", 2).select(F.sum(F.size("vec"))).collect()
    assert "dimension mismatch" in str(ei.value)


def test_build_rejects_ragged_vectors(spark):
    import pytest as _pytest

    from vector_index_spark.api import VectorIndex
    from vector_index_spark.config import IndexParameters

    rows = [(i, [float(i), 0.0]) for i in range(20)] + [(99, [1.0])]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    params = IndexParameters(dimension=2, sub_index_bound=10)
    with _pytest.raises(Exception) as ei:
        VectorIndex.build(df, params).edges.count()
    assert "dimension mismatch" in str(ei.value)


def test_query_and_append_reject_ragged_vectors(spark, tmp_path):
    """The mutation and query paths get the same assert_dim guard as
    build() (ADVICE r3: ragged vectors through append()/query() previously
    skipped the check and hit the silent-NULL-distance failure)."""
    import pytest as _pytest

    from vector_index_spark.api import VectorIndex
    from vector_index_spark.config import IndexParameters

    rows = [(i, [float(i), 0.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    params = IndexParameters(dimension=2, sub_index_bound=10)
    idx = VectorIndex.build(df, params).save(str(tmp_path / "idx"))

    bad_q = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0])], "qid long, vec array<double>"
    )
    with _pytest.raises(Exception) as ei:
        idx.query(bad_q, k=3).collect()
    assert "dimension mismatch" in str(ei.value)

    bad_new = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0])], "id long, vec array<double>"
    )
    with _pytest.raises(Exception) as ei:
        idx.append(bad_new)
    assert "dimension mismatch" in str(ei.value)
