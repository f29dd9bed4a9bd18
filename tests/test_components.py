"""Connected-components correctness vs a brute-force union-find, across
graph shapes chosen to break weaker algorithms (long paths defeat
diameter-bound label propagation; the star algorithm must handle them in
O(log^2 n) rounds)."""

import random

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from vector_index_spark.operators.components import (
    _is_star_forest,
    connected_components,
    near_dup_clusters,
    semantic_dedup,
)


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # path-compress to the component minimum
    return {x: find(x) for x in parent}


def _labels(spark, edges, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = connected_components(df, **kw).collect()
    return {r["id"]: r["component"] for r in got}


def _expected(edges):
    # a self-loop alone is not a pair: its vertex gets no label
    uf = _union_find([(u, v) for u, v in edges if u != v])
    # union-find roots are already the min id (we always parent toward min)
    return uf


@pytest.mark.parametrize("seed,n,m", [(7, 120, 80), (11, 200, 300), (13, 60, 400)])
def test_random_graphs_match_union_find(spark, seed, n, m):
    rng = random.Random(seed)
    edges = [
        (rng.randrange(n), rng.randrange(n))
        for _ in range(m)
    ]
    edges = [(u, v) for u, v in edges if u != v]
    assert _labels(spark, edges) == _expected(edges)


def test_long_path_converges_in_log_rounds(spark):
    # a 64-node path has diameter 63; hash-min propagation would need 63
    # rounds — the star algorithm must finish well under max_rounds=10.
    edges = [(i, i + 1) for i in range(63)]
    assert _labels(spark, edges, max_rounds=10) == _expected(edges)


def test_disjoint_cliques_and_reversed_ids(spark):
    # two cliques with interleaved ids + descending edge order
    c1 = [(i, j) for i in (0, 2, 4, 6) for j in (0, 2, 4, 6) if i < j]
    c2 = [(i, j) for i in (1, 3, 5) for j in (1, 3, 5) if i < j]
    edges = [(v, u) for u, v in c1 + c2]  # reversed orientation
    labels = _labels(spark, edges)
    assert labels == _expected(edges)
    assert {labels[i] for i in (0, 2, 4, 6)} == {0}
    assert {labels[i] for i in (1, 3, 5)} == {1}


def test_duplicate_and_self_edges_ignored(spark):
    edges = [(5, 5), (1, 2), (2, 1), (1, 2), (8, 8)]
    labels = _labels(spark, edges)
    assert labels == {1: 1, 2: 1}


def test_star_forest_stop_rule(spark):
    def star(edges):
        return _is_star_forest(spark.createDataFrame(edges, "u long, v long"))

    assert not star([(1, 3), (2, 3)])  # child 3 has two parents
    assert not star([(1, 2), (2, 3)])  # vertex 2 is parent and child
    assert star([(1, 2), (1, 3), (4, 5)])


def _permuted_path(n, seed):
    ids = list(range(n))
    random.Random(seed).shuffle(ids)
    return list(zip(ids, ids[1:]))


def _hub_joined_to_path():
    # one 2,000-leaf hub: a single large window partition per star step
    path, hub = _permuted_path(40, 9), 50_000
    return path + [(hub, path[-1][1])] + [(hub, 10_000 + i) for i in range(2000)]


@pytest.mark.parametrize(
    "edges",
    [
        [(i, (i + 1) % 12) for i in range(12)],  # cycle
        _permuted_path(80, 5),
        [(4, 4), (9, 9)],  # self-loops only
        [],
        _hub_joined_to_path(),
    ],
    ids=["cycle", "permuted-path-80", "self-loops-only", "empty", "hub-2000-path"],
)
def test_shapes_match_union_find(spark, edges):
    assert _labels(spark, edges) == _expected(edges)


def test_star_families_finish_in_one_round(spark, monkeypatch):
    # the perfbench document shape: copies are made of earlier originals
    # only, so every family is a star around its (smallest) original,
    # plus edges between copies of one original. Each star round ends in
    # one localCheckpoint, so a confirming second round fails this test.
    rng = random.Random(3)
    originals, family, edges = [], {}, []
    for i in range(300):
        if originals and rng.random() < 0.3:
            o = rng.choice(originals)
            edges.append((o, i))
            edges += [(c, i) for c in family[o] if rng.random() < 0.5]
            family[o].append(i)
        else:
            originals.append(i)
            family[i] = []
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    calls = []
    checkpoint = type(df).localCheckpoint

    def counting(self, *a, **kw):
        calls.append(1)
        return checkpoint(self, *a, **kw)

    monkeypatch.setattr(type(df), "localCheckpoint", counting)
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == _expected(edges)
    assert len(calls) == 1


def test_near_dup_clusters_labels_singletons(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame([(0, 3), (3, 7), (2, 5)], "id_a long, id_b long")
    out = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in near_dup_clusters(docs, pairs).collect()
    }
    assert out[0] == (0, 1) and out[3] == (0, 0) and out[7] == (0, 0)
    assert out[2] == (2, 1) and out[5] == (2, 0)
    for single in (1, 4, 6):
        assert out[single] == (single, 1)
    assert sum(k for _, k in out.values()) == 5  # 2 cluster reps + 3 singletons


def _exact_cos_pairs(spark, emb, threshold):
    from vector_index_spark.functions.distance import cos_dist

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    return {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos_dist(F.col("va"), F.col("vb")) <= threshold)
        .collect()
    }


def test_semantic_dedup_catches_planted_dups_no_false_positives(spark):
    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    # plant exact duplicates of three vectors under new ids
    planted = emb.filter(F.col("vec_id").isin(3, 41, 97)).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "v"
    )
    corpus = emb.union(planted)
    out = semantic_dedup(
        corpus, id_col="vec_id", vec_col="v", n_cells=8, cos_threshold=0.05
    )
    rows = {r["vec_id"]: (r["cluster_id"], r["keep"]) for r in out.collect()}
    assert len(rows) == corpus.count()
    # identical vectors hash to the same cells -> always caught
    for orig in (3, 41, 97):
        assert rows[orig + 10_000][0] == rows[orig][0]
        assert rows[orig + 10_000][1] == 0
    # exact verify => clustered pairs are a subset of true-threshold pairs;
    # with random-uniform embeddings the planted dups are the only pairs
    exact = _exact_cos_pairs(spark, corpus, 0.05)
    flagged = {(i, c) for i, (c, k) in rows.items() if k == 0}
    assert flagged == {(o + 10_000, o) for o in (3, 41, 97)}
    assert exact == {(o, o + 10_000) for o in (3, 41, 97)}


def test_semantic_dedup_recall_vs_exact_at_loose_threshold(spark):
    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    # loose threshold so uniform embeddings produce genuine pairs
    threshold = 0.6
    exact = _exact_cos_pairs(spark, emb, threshold)
    assert len(exact) > 20  # meaningful comparison set
    out = semantic_dedup(
        emb, id_col="vec_id", vec_col="v", n_cells=8, replicas=3,
        cos_threshold=threshold,
    )
    labels = {r["vec_id"]: r["cluster_id"] for r in out.collect()}
    # every exact pair should end up co-clustered (boundary replication);
    # allow a small miss rate — blocking is approximate by design
    hit = sum(1 for a, b in exact if labels[a] == labels[b])
    assert hit / len(exact) >= 0.8
