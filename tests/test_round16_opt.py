"""Round-16 optimization invariants.

The optimization round may not change what any operator computes. These
tests pin the bit-identity contracts behind the round-16 kernel changes:

- ``pq.argmin_sq_dist`` (tie-safe GEMM nearest-centroid) must equal the
  n*k*d broadcast-temp form it replaced, including exact-tie tiebreaks —
  it decides k-means assignments and PQ codes on q105/q106/q108-gated
  paths.
- ``ivf._kmeans``'s in-place distance accumulation must equal the old
  temp-allocating expression.
- ``fitcap.collect_matrix`` (one-Arrow-transfer driver collect) must
  return the same float64 matrix as the np.stack(toPandas()) pattern.
- ``ivf.centroid_matrix`` (attached driver centers) must equal a
  collect of the centroid table.
- ``pq.encode_pq`` codes must be unchanged.
"""

from __future__ import annotations

import numpy as np
import pytest

from vector_index_spark.index.pq import _kmeans_1d, argmin_sq_dist


def _old_argmin(X, C):
    return ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)


def test_argmin_sq_dist_matches_broadcast_form():
    rng = np.random.default_rng(0)
    for _ in range(150):
        n = int(rng.integers(3, 300))
        k = int(rng.integers(1, 33))
        d = int(rng.choice([1, 2, 4, 8, 16, 64]))
        X = rng.standard_normal((n, d)) * rng.uniform(0.01, 100)
        C = rng.standard_normal((k, d)) * rng.uniform(0.01, 100)
        assert np.array_equal(argmin_sq_dist(X, C), _old_argmin(X, C))


def test_argmin_sq_dist_exact_and_near_ties():
    """Quantized values force exact ties; a duplicated centroid forces
    the first-occurrence tiebreak to matter."""
    rng = np.random.default_rng(1)
    for _ in range(50):
        X = np.round(rng.standard_normal((200, 8)) * 4) / 4
        C = np.round(rng.standard_normal((16, 8)) * 4) / 4
        C[7] = C[3]
        assert np.array_equal(argmin_sq_dist(X, C), _old_argmin(X, C))


def test_argmin_sq_dist_strided_subspace_slices():
    rng = np.random.default_rng(2)
    X = rng.standard_normal((500, 64))
    for s in range(8):
        seg = X[:, s * 8 : (s + 1) * 8]  # non-contiguous view
        C = rng.standard_normal((16, 8))
        assert np.array_equal(argmin_sq_dist(seg, C), _old_argmin(seg, C))


def _old_kmeans_1d(X, k, iters=12, seed=42):
    rng = np.random.default_rng(seed)
    k = min(k, len(X))
    centers = X[rng.choice(len(X), size=k, replace=False)]
    prev = None
    for _ in range(iters):
        d = ((X[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        if prev is not None and np.array_equal(assign, prev):
            break
        prev = assign
        for j in range(k):
            members = X[assign == j]
            if len(members):
                centers[j] = members.mean(axis=0)
    return centers


@pytest.mark.parametrize("seed", [0, 3, 42])
def test_kmeans_1d_bit_identical_to_broadcast_form(seed):
    rng = np.random.default_rng(100 + seed)
    X = rng.standard_normal((2000, 8))
    assert np.array_equal(
        _kmeans_1d(X, 16, seed=seed), _old_kmeans_1d(X, 16, seed=seed)
    )


def _old_kmeans(X, k, iters, seed):
    from vector_index_spark.index.ivf import _kmeans_pp_init

    rng = np.random.default_rng(seed)
    k = min(k, len(X))
    C = _kmeans_pp_init(X, k, rng)
    xx = (X * X).sum(1)[:, None]
    prev_a = None
    for _ in range(iters):
        d = xx - 2.0 * X @ C.T + (C * C).sum(1)[None, :]
        a = d.argmin(axis=1)
        if prev_a is not None and np.array_equal(a, prev_a):
            break
        prev_a = a
        for j in range(k):
            members = X[a == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


@pytest.mark.parametrize("seed", [0, 7])
def test_kmeans_inplace_accumulation_bit_identical(seed):
    from vector_index_spark.index.ivf import _kmeans

    rng = np.random.default_rng(200 + seed)
    X = rng.standard_normal((3000, 16))
    assert np.array_equal(_kmeans(X, 12, 20, seed), _old_kmeans(X, 12, 20, seed))


def test_collect_matrix_matches_stack_topandas(spark):
    from pyspark.sql import functions as F

    from vector_index_spark.index import fitcap

    rng = np.random.default_rng(3)
    rows = [
        (int(i), [float(np.float32(x)) for x in rng.standard_normal(16)])
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    df32 = df.select("id", F.col("vec").cast("array<float>").alias("vec"))
    for frame in (df, df32, df.filter(F.col("id") % 3 == 1).limit(40)):
        sub = frame.select("vec")
        old = np.stack(sub.toPandas()["vec"].to_numpy()).astype(np.float64)
        new = fitcap.collect_matrix(sub)
        assert new.dtype == np.float64
        assert np.array_equal(old, new)


def test_centroid_matrix_attached_equals_collected(spark):
    from vector_index_spark.index.ivf import build_ivf, centroid_matrix

    rng = np.random.default_rng(4)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(8)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    _, cents = build_ivf(df, n_centroids=5, replicas=1)
    attached = centroid_matrix(cents)
    collected = np.stack(
        cents.orderBy("centroid_id").toPandas()["vec"].to_numpy()
    ).astype(np.float64)
    assert np.array_equal(attached, collected)
    # a derived table (attribute lost) takes the collect path
    derived = cents.select("centroid_id", "vec")
    assert np.array_equal(centroid_matrix(derived), collected)
    # the attached matrix is read-only: accidental mutation fails loudly
    with pytest.raises(ValueError):
        attached[0, 0] = 1.0


def test_encode_pq_codes_unchanged(spark):
    from vector_index_spark.index.pq import encode_pq, train_pq

    rng = np.random.default_rng(5)
    rows = [
        (int(i), [float(x) for x in rng.standard_normal(16)]) for i in range(500)
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    books = train_pq(df, n_subspaces=4, n_centroids=8, sample_size=500)
    got = {
        r["id"]: list(r["codes"])
        for r in encode_pq(df, books).collect()
    }
    # old form, inlined
    X = np.stack(
        df.orderBy("id").toPandas()["vec"].to_numpy()
    ).astype(np.float64)
    m, _, sub = books.shape
    codes = np.empty((len(X), m), dtype=np.int32)
    for s in range(m):
        seg = X[:, s * sub : (s + 1) * sub]
        d = ((seg[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = d.argmin(axis=1)
    for i in range(len(X)):
        assert got[i] == list(codes[i])


def test_seq_metric_arrow_bit_identical_to_hof(spark):
    """The Arrow distance twins must bit-equal the higher-order-function
    kernels (they decide oracle-hashed dist columns), including NULL and
    ragged-length rows (zip_with null-pads, nulling the fold)."""
    from pyspark.sql import functions as F

    from vector_index_spark.functions.distance import (
        cos_dist,
        ip_dist,
        l2sq,
        seq_metric_arrow,
    )

    rng = np.random.default_rng(6)
    rows = [
        (
            int(i),
            [float(np.float32(x)) for x in rng.standard_normal(16)],
            [float(np.float32(x)) for x in rng.standard_normal(16)],
        )
        for i in range(300)
    ]
    rows += [
        (1000, None, [1.0] * 16),
        (1001, [1.0] * 16, None),
        (1002, [1.0] * 17, [1.0] * 16),
    ]
    df = spark.createDataFrame(rows, "i long, x array<double>, y array<double>")
    df32 = df.select(
        "i",
        F.col("x").cast("array<float>").alias("x"),
        F.col("y").cast("array<float>").alias("y"),
    )
    cases = [
        ("euclidean2", l2sq),
        ("inner_product", ip_dist),
        ("cosine_similarity", cos_dist),
    ]
    for frame in (df, df32):
        for name, hof in cases:
            got = frame.select(
                "i",
                hof(F.col("x"), F.col("y")).alias("o"),
                seq_metric_arrow(name)(F.col("x"), F.col("y")).alias("n"),
            ).collect()
            for r in got:
                assert r["o"] == r["n"] or (r["o"] is None and r["n"] is None), (
                    name, r["i"], r["o"], r["n"],
                )


def test_maxsim_dot_seq_matches_hof_form(spark):
    """Round 16 swapped maxsim's per-pair dot from the interpreted
    aggregate(zip_with(...)) expression to seq_metric_arrow("dot"). The full
    retrieval output must be row-identical (q90 hashes round(score, 6))."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from vector_index_spark.functions.distance import dot
    from vector_index_spark.operators.similarity import maxsim_retrieval

    rng = np.random.default_rng(7)
    rows = [
        (int(i // 5), int(i), [float(np.float32(x)) for x in rng.standard_normal(8)])
        for i in range(400)
    ]
    toks = spark.createDataFrame(rows, "doc_id long, dtok long, vec array<double>")
    mq = toks.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("qid"), F.col("dtok").alias("qtok"), "vec"
    )
    dd = toks.filter(F.col("doc_id") % 10 != 0)

    def old_maxsim(k):
        q = mq.select(
            F.col("qid"), F.col("qtok").alias("__qt"), F.col("vec").alias("__qv")
        )
        d = dd.select(
            F.col("doc_id"), F.col("dtok").alias("__dt"), F.col("vec").alias("__dv")
        )
        per_qtok = (
            d.crossJoin(F.broadcast(q))
            .withColumn("__sim", dot(F.col("__qv"), F.col("__dv")))
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

    new = maxsim_retrieval(mq, dd, 5).orderBy("qid", "rank").collect()
    old = old_maxsim(5).orderBy("qid", "rank").collect()
    assert [tuple(r) for r in new] == [tuple(r) for r in old]
