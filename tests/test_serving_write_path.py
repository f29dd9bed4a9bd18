"""The one write path of the serving classes: ``refresh`` (one wave merge,
one encode hook per route), the metric adapters (one forwarding of every
query form and lifecycle call; the metric stamp rides in the snapshot's
single manifest commit), ``stream_index_maintain`` in the index's metric,
and the MIPS adapter's repeated-qid answer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT

K = 10


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    full = e.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    ).localCheckpoint(eager=True)
    test = e.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec")
    ).limit(12).localCheckpoint(eager=True)
    return full, test


def _rows6(df):
    return sorted(
        (r["qid"], r["rank"], r["id"], round(r["dist"], 6))
        for r in df.collect()
    )


def _jobs_in(spark, group: str, fn) -> int:
    """Spark jobs ``fn`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_mips_serving_repeated_qid_min_merges_on_ip_dist(spark, emb):
    """A qid sent twice with nearly equal vectors: each row is answered
    on its own and the answers min-merge per (qid, id) on ip_dist — k
    rows, k distinct ids, equal to merging the two rows' own answers."""
    from vector_index_spark.api import VectorIndex
    from vector_index_spark.config import IndexParameters

    full, test = emb
    idx = VectorIndex.build(
        full.filter(F.col("id") < 400),
        IndexParameters(
            dimension=64, sub_index_bound=200, distance_type="inner_product"
        ),
    )
    sv = idx.serving().warm()
    try:
        base = test.limit(4).localCheckpoint(eager=True)
        q0 = base.orderBy("qid").first()
        twin = spark.createDataFrame(
            [(int(q0["qid"]), [float(v) * 1.001 for v in q0["vec"]])],
            base.schema,
        )
        batch = base.unionByName(twin)
        got = sv.query(batch, K).collect()
        mine = sorted(
            (r["rank"], r["id"], r["dist"]) for r in got
            if r["qid"] == q0["qid"]
        )
        assert len(mine) == K
        assert len({r[1] for r in mine}) == K
        # want: each row answered alone, min-merged per id, top-k
        best: dict = {}
        for one in (base.filter(F.col("qid") == q0["qid"]), twin):
            for r in sv.query(one, K).collect():
                best[r["id"]] = min(best.get(r["id"], float("inf")), r["dist"])
        want = sorted((d, i) for i, d in best.items())[:K]
        assert [(r[2], r[1]) for r in mine] == want
        assert [r[0] for r in mine] == list(range(1, K + 1))
        # the other qids answer exactly as in a batch without the twin
        rest = [r for r in _rows6(sv.query(batch, K)) if r[0] != q0["qid"]]
        assert rest == [
            r for r in _rows6(sv.query(base, K)) if r[0] != q0["qid"]
        ]
    finally:
        sv.unpersist()


@pytest.mark.parametrize("metric", ["cosine_similarity", "inner_product"])
def test_stream_index_maintain_serves_the_index_metric(
    spark, emb, tmp_path, metric
):
    """stream_index_maintain's handle is the one VectorIndex.serving()
    builds: after two waves it answers like the loaded index's serving
    handle (same distance scale), and its snapshot restores through
    serving_from_snapshot to the same adapter with the same answers."""
    from vector_index_spark.api import VectorIndex
    from vector_index_spark.config import IndexParameters
    from vector_index_spark.index.serving import _read_manifest_any
    from vector_index_spark.streaming.ingest import stream_index_maintain

    full, test = emb
    path, snap = str(tmp_path / "idx"), str(tmp_path / "snap")
    VectorIndex.build(
        full.filter(F.col("id") < 300),
        IndexParameters(
            dimension=64, minimum_connect_number=6, relaxed_monotonicity=32,
            step=2, sub_index_bound=100, distance_type=metric,
        ),
    ).save(path)
    src = str(tmp_path / "arrivals")
    for lo in (300, 400):
        # halved norms stay under the inner-product index's build bound M
        full.filter((F.col("id") >= lo) & (F.col("id") < lo + 100)).select(
            "id",
            F.transform("vec", lambda x: (x * 0.5).cast("float")).alias("vec"),
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("id long, vec array<float>").parquet(src)
    )
    q, sidx = stream_index_maintain(stream, path, snap, str(tmp_path / "ck"))
    q.awaitTermination(240)
    cold = VectorIndex.load(spark, path).serving().warm()
    restored = VectorIndex.serving_from_snapshot(spark, snap).warm()
    try:
        assert q.exception() is None
        # two micro-batch waves applied and committed
        assert _read_manifest_any(spark, snap)["last_batch_id"] == 1
        assert type(sidx) is type(cold) and type(restored) is type(cold)
        want = _rows6(cold.query(test, K))
        assert len(want) == test.count() * K
        assert _rows6(sidx.query(test, K)) == want
        assert _rows6(restored.query(test, K)) == want
    finally:
        for h in (cold, restored, sidx):
            h.unpersist()


def test_metric_stamp_rides_in_the_snapshot_commit(
    spark, emb, tmp_path, monkeypatch
):
    """Every manifest write after the first fails: the cosine metric
    must already be in that first (committing) write, so the snapshot
    restores to the cosine adapter, never to a bare handle."""
    from vector_index_spark.api import VectorIndex, _CosineServing
    from vector_index_spark.config import IndexParameters
    from vector_index_spark.index import serving as S

    full, test = emb
    sv = VectorIndex.build(
        full.filter(F.col("id") < 300),
        IndexParameters(
            dimension=64, sub_index_bound=150,
            distance_type="cosine_similarity",
        ),
    ).serving().warm()
    path = str(tmp_path / "snap")
    real, writes = S._fs_write_bytes, []

    def failing(spark_, p, data):
        if p.endswith("serving_manifest.json"):
            writes.append(p)
            if len(writes) > 1:
                raise OSError("simulated crash after the manifest commit")
        real(spark_, p, data)

    monkeypatch.setattr(S, "_fs_write_bytes", failing)
    try:
        try:
            sv.snapshot(path)
        except OSError:
            pass  # the crash window: whatever was committed must restore
        monkeypatch.setattr(S, "_fs_write_bytes", real)
        restored = VectorIndex.serving_from_snapshot(spark, path).warm()
        try:
            assert isinstance(restored, _CosineServing)
            assert _rows6(restored.query(test, K)) == _rows6(
                sv.query(test, K)
            )
        finally:
            restored.unpersist()
    finally:
        sv.unpersist()


def test_cell_and_ivfpq_waves_collect_no_centroids(spark, emb):
    """Cell and IVF-PQ route a wave through the centroids the handle
    already holds on the driver: a wave runs no more Spark jobs than an
    RP-tree wave of the same shape (no per-wave centroid collect)."""
    from vector_index_spark.index.ivf import build_ivf
    from vector_index_spark.index.ivfpq import build_ivfpq
    from vector_index_spark.index.rpt import assign_rpt, train_rpt
    from vector_index_spark.index.serving import (
        CellServingIndex,
        IvfPqServingIndex,
        RptServingIndex,
    )

    full, _ = emb
    first = full.filter(F.col("id") < 400).localCheckpoint(eager=True)
    union = full.filter(F.col("id") < 460).localCheckpoint(eager=True)
    wave = full.filter(
        (F.col("id") >= 400) & (F.col("id") < 460)
    ).localCheckpoint(eager=True)
    assigned, cents = build_ivf(first, n_centroids=8, replicas=1)
    cell = CellServingIndex(assigned.localCheckpoint(eager=True), cents)
    enc, icents, books = build_ivfpq(first, n_centroids=8, replicas=1)
    ivfpq = IvfPqServingIndex(
        enc.localCheckpoint(eager=True), icents, books, first
    )
    W, T = train_rpt(first, depth=3)
    rpt = RptServingIndex(assign_rpt(first, W, T).localCheckpoint(eager=True), W, T)
    handles = (cell.warm(), ivfpq.warm(), rpt.warm())
    try:
        n_rpt = _jobs_in(spark, "wave_rpt", lambda: rpt.refresh(wave))
        n_cell = _jobs_in(spark, "wave_cell", lambda: cell.refresh(wave))
        n_ivfpq = _jobs_in(
            spark, "wave_ivfpq", lambda: ivfpq.refresh(wave, union)
        )
        assert n_cell <= n_rpt, (n_cell, n_rpt)
        assert n_ivfpq <= n_rpt, (n_ivfpq, n_rpt)
    finally:
        for h in handles:
            h.unpersist()


def test_refresh_train_rule_follows_from_snapshot(spark, emb):
    """``train`` on ``refresh`` follows the ``from_snapshot`` rule: the
    cold-corpus routes require it, the self-contained routes refuse it
    (both before touching the resident blobs)."""
    from vector_index_spark.index.ivf import build_ivf
    from vector_index_spark.index.sq import encode_sq, train_sq
    from vector_index_spark.index.serving import (
        CellServingIndex,
        SqServingIndex,
    )

    full, _ = emb
    first = full.filter(F.col("id") < 200).localCheckpoint(eager=True)
    wave = full.filter(
        (F.col("id") >= 200) & (F.col("id") < 220)
    ).localCheckpoint(eager=True)
    assigned, cents = build_ivf(first, n_centroids=4, replicas=1)
    cell = CellServingIndex(assigned, cents)
    mn, mx = train_sq(first)
    sq = SqServingIndex(encode_sq(first, mn, mx), first, mn, mx)
    with pytest.raises(TypeError, match="needs the cold corpus"):
        sq.refresh(wave)
    with pytest.raises(TypeError, match="takes no train"):
        cell.refresh(wave, first)
    for h in (sq, cell):
        assert not getattr(h, h._PENDING, None)  # nothing merged
