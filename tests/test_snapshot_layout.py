"""On-disk snapshot layout of every serving class, pinned.

A full ``snapshot`` and one ``snapshot_incremental`` after a single
``refresh`` are written for each of the seven serving classes (with
attribute columns on every class but the graph route, whose attributed
refresh is covered by its own test below). The test pins what a
restarted fleet reads back: the manifest key set, ``base_dirs`` and
``routing_dir`` of the full snapshot, the directory listing, and the
``generations`` entry plus its ``blobs_gen_N`` dir after the refresh.
The generation's claimed keys are derived from the blob rows the
refresh changed, not from the handle's own bookkeeping.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT
from vector_index_spark.config import IndexParameters

PARAMS = IndexParameters(
    dimension=64, minimum_connect_number=8, relaxed_monotonicity=64,
    step=2, sub_index_bound=250,
)

BASE_KEYS = {
    "format_version", "class", "snapshot_id", "base_version", "base_dirs",
    "generations", "blobs", "attr_cols", "attr_hist",
}
CORPUS_KEYS = {"id_col", "vec_col", "corpus"}

# class -> (blob key column, extra manifest keys, base_dirs, routing_dir
# of the full snapshot, routing_dir after one incremental generation)
LAYOUT = {
    "ServingIndex": (
        "shard", {"dimension", "routing_dir"}, ["blobs"], "routing",
        "routing_g1",
    ),
    "CellServingIndex": (
        "cell", {"routing_dir"}, ["blobs"], "routing", "routing",
    ),
    "PqServingIndex": (
        "part", CORPUS_KEYS, ["blobs", "codebooks.npy"], None, None,
    ),
    "SqServingIndex": (
        "part", CORPUS_KEYS, ["blobs", "mins.npy", "span.npy"], None, None,
    ),
    "IvfPqServingIndex": (
        "cell", CORPUS_KEYS | {"routing_dir"},
        ["blobs", "centroids.npy", "codebooks.npy"], "routing", "routing",
    ),
    "RptServingIndex": (
        "leaf", set(), ["blobs", "normals.npy", "thresholds.npy"], None,
        None,
    ),
    "PcaServingIndex": (
        "part", set(), ["blobs", "mean.npy", "components.npy"], None, None,
    ),
}


@pytest.fixture(scope="module")
def corpus(spark):
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    full = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"), "label"
    )
    base = full.filter(F.col("id") < 450).localCheckpoint(eager=True)
    wave = full.filter(F.col("id") >= 450).localCheckpoint(eager=True)
    union = base.unionByName(wave).localCheckpoint(eager=True)
    return base, wave, union


def _graph(rel):
    """(vectors with shard + label, edges) of a graph index over rel."""
    from vector_index_spark.index.builder import build_graph_index
    from vector_index_spark.operators.shard import assign_shards

    edges = build_graph_index(
        rel.select("id", "vec"), PARAMS
    ).localCheckpoint(eager=True)
    vectors = assign_shards(
        rel.select("id", "vec"), PARAMS.sub_index_bound
    ).join(F.broadcast(rel.select("id", "label")), "id")
    return vectors, edges


def build_case(spark, name, base, wave, union):
    """(live handle, refresh-one-wave callable, restore callable) for
    one serving class over ``base``; the wave is ``wave`` and the
    post-wave corpus ``union``."""
    from vector_index_spark.index import serving as S

    if name == "ServingIndex":
        vectors, edges = _graph(base)
        vectors2, edges2 = _graph(union)
        # the wave's ids (450..499) all land in shard 1; attribute-free
        # (test_graph_refresh_keeps_attribute_histogram covers the
        # attributed graph refresh)
        return (
            S.ServingIndex(vectors, edges),
            lambda h: h.refresh(vectors2, edges2, [1]),
            lambda p: S.ServingIndex.from_snapshot(spark, p),
        )
    if name == "CellServingIndex":
        from vector_index_spark.index.ivf import build_ivf

        assigned, cents = build_ivf(base.select("id", "vec"), n_centroids=8)
        assigned = assigned.join(
            F.broadcast(base.select("id", "label")), "id"
        )
        return (
            S.CellServingIndex(assigned, cents, attr_col="label"),
            lambda h: h.refresh(wave),
            lambda p: S.CellServingIndex.from_snapshot(spark, p),
        )
    if name == "PqServingIndex":
        from vector_index_spark.index.pq import encode_pq, train_pq

        books = train_pq(base, n_subspaces=8, n_centroids=16)
        return (
            S.PqServingIndex(
                encode_pq(base, books), base, books, attr_col="label"
            ),
            lambda h: h.refresh(wave, union),
            lambda p: S.PqServingIndex.from_snapshot(spark, p, union),
        )
    if name == "SqServingIndex":
        from vector_index_spark.index.sq import encode_sq, train_sq

        mins, maxs = train_sq(base)
        return (
            S.SqServingIndex(
                encode_sq(base, mins, maxs), base, mins, maxs,
                attr_col="label",
            ),
            lambda h: h.refresh(wave, union),
            lambda p: S.SqServingIndex.from_snapshot(spark, p, union),
        )
    if name == "IvfPqServingIndex":
        from vector_index_spark.index.ivfpq import build_ivfpq

        enc, cents, books = build_ivfpq(
            base.select("id", "vec"), n_centroids=8, replicas=1
        )
        return (
            S.IvfPqServingIndex(enc, cents, books, base, attr_col="label"),
            lambda h: h.refresh(wave, union),
            lambda p: S.IvfPqServingIndex.from_snapshot(spark, p, union),
        )
    if name == "RptServingIndex":
        from vector_index_spark.index.rpt import assign_rpt, train_rpt

        W, T = train_rpt(base, depth=3)
        assigned = assign_rpt(base, W, T).join(
            F.broadcast(base.select("id", "label")), "id"
        )
        return (
            S.RptServingIndex(assigned, W, T, attr_col="label"),
            lambda h: h.refresh(wave),
            lambda p: S.RptServingIndex.from_snapshot(spark, p),
        )
    assert name == "PcaServingIndex"
    from vector_index_spark.index.pca import project_pca, train_pca

    mean, comp = train_pca(base, 16)
    projected = project_pca(base, mean, comp).join(
        F.broadcast(base.select("id", "label")), "id"
    )
    return (
        S.PcaServingIndex(projected, mean, comp, attr_col="label"),
        lambda h: h.refresh(wave),
        lambda p: S.PcaServingIndex.from_snapshot(spark, p),
    )


def _listing(path):
    return sorted(
        d for d in os.listdir(path)
        if not d.startswith(".") and not d.endswith(".crc")
    )


def _blob_rows(handle, key):
    return {int(r[key]): bytes(r["blob"]) for r in handle.blobs.collect()}


@pytest.mark.parametrize("name", sorted(LAYOUT))
def test_snapshot_layout_is_pinned(spark, corpus, tmp_path, name):
    from vector_index_spark.index.serving import _read_manifest_any

    key, extra, base_dirs, routing, routing_after = LAYOUT[name]
    live, refresh, restore = build_case(spark, name, *corpus)
    live.warm()
    path = str(tmp_path / "snap")
    try:
        live.snapshot(path)
        m = _read_manifest_any(spark, path)
        assert set(m) == BASE_KEYS | extra
        assert m["class"] == name
        assert m["format_version"] == 1
        assert m["base_version"] == 1
        assert m["base_dirs"] == base_dirs
        assert m.get("routing_dir") == routing
        assert m["generations"] == []
        assert m["attr_cols"] == (
            None if name == "ServingIndex" else ["label"]
        )
        assert _listing(path) == sorted(
            base_dirs + ([routing] if routing else [])
            + ["serving_manifest.json", "writer_intent"]
        )

        before = _blob_rows(live, key)
        refresh(live)
        after = _blob_rows(live, key)
        changed = sorted(
            k for k, blob in after.items() if before.get(k) != blob
        )
        assert changed
        live.snapshot_incremental(path)
        m2 = _read_manifest_any(spark, path)
        assert set(m2) == set(m)
        assert m2["snapshot_id"] == m["snapshot_id"]
        assert m2["base_dirs"] == base_dirs
        assert m2.get("routing_dir") == routing_after
        assert m2["generations"] == [{"gen": 1, "shards": changed}]
        assert _listing(path) == sorted(
            base_dirs + ([routing_after] if routing_after else [])
            + ["blobs_gen_1", "serving_manifest.json", "writer_intent"]
        )
        gen_keys = sorted(
            int(r[key])
            for r in spark.read.parquet(f"{path}/blobs_gen_1")
            .select(key).collect()
        )
        assert gen_keys == changed

        restored = restore(path)
        try:
            assert _blob_rows(restored, key) == after
        finally:
            restored.unpersist()
    finally:
        live.unpersist()


def test_graph_refresh_keeps_attribute_histogram(spark, corpus, tmp_path):
    """An attributed graph handle refreshed with post-append relations
    still answers a selective filtered query and snapshots
    incrementally: its strategy histogram is recomputed from the
    refreshed vectors' own attribute columns."""
    from vector_index_spark.index.serving import ServingIndex

    base, _, union = corpus
    live = ServingIndex(*_graph(base), attr_col="label").warm()
    path = str(tmp_path / "snap")
    try:
        live.snapshot(path)
        live.refresh(*_graph(union), [1])
        hist = live._attribute_histogram()
        want = {
            (int(r["label"]),): int(r["count"])
            for r in union.groupBy("label").count().collect()
        }
        assert hist == want
        live.snapshot_incremental(path)
        restored = ServingIndex.from_snapshot(spark, path)
        try:
            assert restored._attribute_histogram() == want
        finally:
            restored.unpersist()
    finally:
        live.unpersist()
