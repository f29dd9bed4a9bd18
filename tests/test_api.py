"""VectorIndex facade: the reference user's workflow end-to-end through one
object (build -> query -> save -> load -> append -> remove -> optimize)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT
from vector_index_spark.api import VectorIndex
from vector_index_spark.config import IndexParameters

PARAMS = IndexParameters(
    dimension=64, minimum_connect_number=8, relaxed_monotonicity=64,
    step=2, sub_index_bound=200,
)
K = 10


@pytest.fixture(scope="module")
def data(spark):
    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    train = emb.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    test = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec")
    )
    return train, test


def _recall(approx, exact):
    truth = {}
    for r in exact:
        truth.setdefault(r.qid, set()).add(r.id)
    return sum(1 for r in approx if r.id in truth.get(r.qid, ())) / sum(
        len(v) for v in truth.values()
    )


def test_full_lifecycle(spark, data, tmp_path):
    train, test = data
    idx = VectorIndex.build(train, PARAMS)
    assert idx.count() == 450

    exact = idx.exact_query(test, K).collect()
    approx = idx.query(test, K).collect()
    assert _recall(approx, exact) >= 0.95

    routed = idx.query(test, K, nprobe=2).collect()
    assert len({r.qid for r in routed}) == 50  # every query answered

    path = str(tmp_path / "idx")
    idx.save(path)
    idx2 = VectorIndex.load(spark, path)
    again = idx2.query(test, K).collect()
    assert sorted((r.qid, r.rank, r.id) for r in approx) == sorted(
        (r.qid, r.rank, r.id) for r in again
    )

    # append the held-out rows; they must become findable
    idx3 = idx2.append(test.select(F.col("qid").alias("id"), "vec"))
    assert idx3.count() == 500
    self_hits = idx3.query(test, 1, relaxed_monotonicity=128).collect()
    exact_self = sum(1 for r in self_hits if r.qid == r.id)
    assert exact_self >= 45  # each query's own vector is its 1-NN (ANN: allow slack)

    # remove them again
    idx4 = idx3.remove(test.select(F.col("qid").alias("id")))
    assert idx4.count() == 450

    # optimize produces a loadable compacted copy with identical edges
    out = str(tmp_path / "idx_opt")
    idx4.optimize(out)
    idx5 = VectorIndex.load(spark, out)
    key = lambda r: (r.shard, r.layer, r.src, r.dst)
    assert sorted(map(key, idx4.edges.collect())) == sorted(
        map(key, idx5.edges.collect())
    )


def test_saved_handle_reads_the_written_index(spark, data, tmp_path):
    """save() rebinds the handle to the written relations: its plans
    are parquet scans (no graph build re-runs per query) and it answers
    exactly like VectorIndex.load of the same path."""
    train, test = data
    idx = VectorIndex.build(train, PARAMS)
    path = str(tmp_path / "idx")
    idx.save(path)
    for rel in (idx.vectors, idx.edges):
        plan = rel._jdf.queryExecution().executedPlan().toString()
        assert "FileScan parquet" in plan, plan
        assert "InPandas" not in plan and "Exchange" not in plan, plan
    loaded = VectorIndex.load(spark, path)
    assert sorted(map(tuple, idx.query(test, K).collect())) == sorted(
        map(tuple, loaded.query(test, K).collect())
    )


@pytest.mark.parametrize("metric", ["cosine_similarity", "inner_product"])
def test_metric_aware_facade(spark, data, metric):
    from dataclasses import replace

    train, test = data
    params = replace(PARAMS, distance_type=metric)
    idx = VectorIndex.build(train, params)
    exact = idx.exact_query(test, K).collect()
    approx = idx.query(test, K).collect()
    assert _recall(approx, exact) >= 0.95, f"{metric} facade recall"
    # reported distances agree with the exact metric values
    truth = {(r.qid, r.id): r.dist for r in exact}
    for a in approx:
        if (a.qid, a.id) in truth:
            assert abs(truth[(a.qid, a.id)] - a.dist) < 1e-9


def test_unsaved_index_guards(data):
    train, _ = data
    idx = VectorIndex.build(train.limit(50), PARAMS)
    with pytest.raises(ValueError, match="save first"):
        idx.append(train.limit(1))
    with pytest.raises(ValueError, match="save first"):
        idx.optimize("/tmp/nowhere")

def test_ivf_cell_lifecycle(spark, data, tmp_path):
    """Cell-sharded scheme through the facade: build -> routed query ->
    save/load -> append (nearest-centroid routing, no re-fit) -> remove
    (shards preserved). The scheme survives persistence via params."""
    from dataclasses import replace

    train, test = data
    params = replace(PARAMS, shard_by="ivf_cell", sub_index_bound=700)
    idx = VectorIndex.build(train, params, n_cells=4, seed=11)
    assert idx.count() == 450
    # every shard respects the size bound at build time
    assert (
        idx.vectors.groupBy("shard").count().agg(F.max("count")).collect()[0][0]
        <= 700
    )
    exact = idx.exact_query(test, K).collect()
    approx = idx.query(test, K, nprobe=2).collect()
    assert _recall(approx, exact) >= 0.5  # uniform data, 2 of ~4 shards

    path = str(tmp_path / "cell_idx")
    idx.save(path)
    idx2 = VectorIndex.load(spark, path)
    assert idx2.params.shard_by == "ivf_cell"
    # snapshot BEFORE mutation: append/remove dynamically overwrite the
    # partitions a lazy idx2.vectors plan would re-read
    before = sorted((r.id, r.shard) for r in idx2.vectors.collect())
    old_shards = {s for _i, s in before}

    # append: new ids land on their nearest existing centroid
    extra = test.select((F.col("qid") + 10_000).alias("id"), "vec")
    idx3 = idx2.append(extra)
    assert idx3.count() == 500
    new_shards = {r.shard for r in idx3.vectors.select("shard").distinct().collect()}
    assert new_shards == old_shards  # no re-fit, no new shards

    # remove: survivors keep their shard assignment
    idx4 = idx3.remove(extra.select("id"))
    assert idx4.count() == 450
    after = sorted((r.id, r.shard) for r in idx4.vectors.collect())
    assert before == after


def test_migration_example_end_to_end(spark):
    """examples/migrate_from_reference.py is the user-facing path off the
    reference (binary triple -> ingest -> build -> query -> recall vs
    shipped ground truth -> parquet index); run it in CI on its synthetic
    triple so it can never rot (VERDICT r3 #5). The script itself asserts
    recall >= 0.95."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "examples"))
    try:
        from migrate_from_reference import main
    finally:
        sys.path.pop(0)
    recall = main([], spark=spark)
    assert recall >= 0.95


def test_query_tree_merge_parity_via_facade(spark, tmp_path):
    """VectorIndex.query(tree_merge_fanin=...) returns exactly the
    single-window-merge answers on both the all-shard and routed paths."""
    from vector_index_spark.api import VectorIndex
    from vector_index_spark.config import IndexParameters

    rows = [(i, [float(i % 17), float(i % 5), float(i % 3)]) for i in range(400)]
    train = spark.createDataFrame(rows, "id long, vec array<double>")
    test = spark.createDataFrame(rows[::37], "qid long, vec array<double>")
    params = IndexParameters(dimension=3, sub_index_bound=50)
    idx = VectorIndex.build(train, params)
    ref = sorted(map(tuple, idx.query(test, k=5).collect()))
    tree = sorted(map(tuple, idx.query(test, k=5, tree_merge_fanin=3).collect()))
    assert tree == ref
    routed_ref = sorted(map(tuple, idx.query(test, k=5, nprobe=8).collect()))
    routed_tree = sorted(
        map(tuple, idx.query(test, k=5, nprobe=8, tree_merge_fanin=3).collect())
    )
    assert routed_tree == routed_ref


def _scale_fixture(spark, n=1220):
    rows = [
        (i, [float((i * 7) % 23), float((i * 3) % 11), float(i % 5)])
        for i in range(n)
    ]
    train = spark.createDataFrame(rows, "id long, vec array<double>")
    test = spark.createDataFrame(rows[::101], "qid long, vec array<double>")
    return train, test


def test_auto_scale_selects_tree_merge_above_threshold(spark):
    """At 122 id-ranged shards query() picks the tree merge by itself
    (VERDICT r4 item 7: the 100 TB path is the default) and the answers
    are exactly the flat merge's; explicit knobs and auto_scale=False
    always win."""
    from vector_index_spark.api import AUTO_TREE_MERGE_FANIN, VectorIndex
    from vector_index_spark.config import IndexParameters

    train, test = _scale_fixture(spark)
    idx = VectorIndex.build(train, IndexParameters(dimension=3, sub_index_bound=10))
    assert idx.n_shards() == 122
    # id-ranged shards: tree merge auto-selected, routing NOT (not sharp)
    assert idx.resolved_query_params() == (None, AUTO_TREE_MERGE_FANIN)
    auto = sorted(map(tuple, idx.query(test, k=5).collect()))
    flat = sorted(map(tuple, idx.query(test, k=5, auto_scale=False).collect()))
    assert auto == flat
    assert idx.resolved_query_params(nprobe=4, tree_merge_fanin=2) == (4, 2)
    assert idx.resolved_query_params(auto_scale=False) == (None, None)


def test_auto_scale_routes_on_cell_shards(spark):
    """On an ivf_cell index above the threshold, query() auto-selects
    routing + tree merge, identical to passing the resolved knobs
    explicitly."""
    from vector_index_spark.api import (
        AUTO_TREE_MERGE_FANIN,
        VectorIndex,
        _auto_nprobe,
    )
    from vector_index_spark.config import IndexParameters

    train, test = _scale_fixture(spark)
    params = IndexParameters(dimension=3, sub_index_bound=10, shard_by="ivf_cell")
    idx = VectorIndex.build(train, params, n_cells=122)
    n = idx.n_shards()
    assert n > 64
    want_nprobe = min(_auto_nprobe(n), n)
    assert idx.resolved_query_params() == (want_nprobe, AUTO_TREE_MERGE_FANIN)
    auto = sorted(map(tuple, idx.query(test, k=5).collect()))
    explicit = sorted(
        map(
            tuple,
            idx.query(
                test, k=5, nprobe=want_nprobe,
                tree_merge_fanin=AUTO_TREE_MERGE_FANIN,
            ).collect(),
        )
    )
    assert auto == explicit
    assert len(auto) == test.count() * 5


def test_auto_scale_inert_below_threshold(spark, data):
    """A small index keeps the flat all-shard merge: resolution changes
    nothing below the threshold."""
    from vector_index_spark.api import VectorIndex

    train, _ = data
    idx = VectorIndex.build(train, PARAMS)
    assert idx.n_shards() <= 64
    assert idx.resolved_query_params() == (None, None)


def test_filtered_query_facade(spark, data):
    """VectorIndex.filtered_query: only allowed-attribute ids surface,
    recall vs the exact filtered ground truth, auto-exact under a
    selective filter, cosine dist mapping, and the MIPS gate."""
    from dataclasses import replace

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    attrs = emb.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("id"), F.col("label").alias("attr")
    )
    train, test = data
    idx = VectorIndex.build(train, PARAMS)
    allowed = [0, 3, 6, 9]
    res = idx.filtered_query(test, K, attrs, allowed)
    lab = {r["id"]: r["attr"] for r in attrs.collect()}
    rows = res.collect()
    assert rows and all(lab[r.id] in allowed for r in rows)
    from vector_index_spark.operators.knn import knn_join

    filt_train = train.join(
        attrs.filter(F.col("attr").isin(allowed)), "id", "left_semi"
    )
    exact_rows = knn_join(test, filt_train, K).collect()
    assert _recall(rows, exact_rows) >= 0.9
    # selective filter -> exact branch parity (rounded)
    sel = sorted(
        (r.qid, r.rank, r.id, round(r.dist, 9))
        for r in idx.filtered_query(test, K, attrs, [3]).collect()
    )
    want = sorted(
        (r.qid, r.rank, r.id, round(r.dist, 9))
        for r in knn_join(
            test, train.join(attrs.filter(F.col("attr") == 3), "id", "left_semi"),
            K,
        ).collect()
    )
    assert sel == want
    # cosine metric: dist column is cos_dist
    cos_idx = VectorIndex.build(
        train, replace(PARAMS, distance_type="cosine_similarity")
    )
    cres = cos_idx.filtered_query(test, K, attrs, allowed).collect()
    assert cres and all(-1e-9 <= r.dist <= 2.0 + 1e-9 for r in cres)
    # MIPS gate
    ip_idx = VectorIndex.build(
        train, replace(PARAMS, distance_type="inner_product")
    )
    with pytest.raises(ValueError):
        ip_idx.filtered_query(test, K, attrs, allowed)


def test_facade_conjunction_filtered_query_and_serving(spark):
    """Facade multi-attribute conjunction (round 7): filtered_query with
    attr_col=[...] composite-encodes the AND-of-IN into one attribute
    (cross-product allowed set — exact semantics, guarded above 10k
    combinations), and serving(attrs=, attr_col=[...]) passes the
    conjunction through to the resident masks. Both must equal exact
    conjunction-filtered kNN on a selective filter."""
    from pyspark.sql import functions as F

    from vector_index_spark.api import VectorIndex
    from vector_index_spark.config import IndexParameters
    from vector_index_spark.operators.knn import knn_join

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    train = emb.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"),
        "label", (F.col("vec_id") % 3).alias("label2"),
    )
    test = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec")
    )
    idx = VectorIndex.build(
        train.select("id", "vec"),
        IndexParameters(
            dimension=64, minimum_connect_number=8, relaxed_monotonicity=64,
            step=2, sub_index_bound=250,
        ),
    )
    attrs = train.select("id", "label", "label2")
    pred = F.col("label").isin(3, 5) & F.col("label2").isin(0, 1)
    exact = sorted(
        (r["qid"], r["rank"], r["id"], round(r["dist"], 9))
        for r in knn_join(test, train.filter(pred), 10).collect()
    )
    got = sorted(
        (r["qid"], r["rank"], r["id"], round(r["dist"], 9))
        for r in idx.filtered_query(
            test, 10, attrs, [[3, 5], [0, 1]], attr_col=["label", "label2"]
        ).collect()
    )
    assert got == exact

    sidx = idx.serving(attrs=attrs, attr_col=["label", "label2"]).warm()
    try:
        warm = sorted(
            (r["qid"], r["rank"], r["id"], round(r["dist"], 9))
            for r in sidx.query(test, 10, allowed=[[3, 5], [0, 1]]).collect()
        )
        assert warm == exact
    finally:
        sidx.unpersist()

    import pytest as _pytest

    # the 10k enumeration guard fires on the EFFECTIVE (in-domain) combo
    # count — out-of-domain values are dropped first (ADVICE r7), so the
    # guard needs genuinely high-cardinality attributes to trip
    wide = train.select(
        "id", (F.col("id") % 150).alias("w1"), (F.col("id") % 149).alias("w2")
    )
    with _pytest.raises(ValueError, match="cross product"):
        idx.filtered_query(
            test, 10, wide,
            [list(range(150)), list(range(149))],
            attr_col=["w1", "w2"],
        )
    # the same request on LOW-cardinality attributes no longer raises:
    # only 10x3 of the 150x149 requested combos are in-domain
    ok = idx.filtered_query(
        test, 10, attrs,
        [list(range(150)), list(range(150))],
        attr_col=["label", "label2"],
    )
    assert ok.count() > 0


def test_cosine_serving_query_by_attribute(spark):
    """_CosineServing wraps query_by_attribute: multi-tenant serving on
    a cosine index must equal exact per-label cosine kNN (cos_dist =
    l2sq/2 over build-normalized vectors; every sf0.01 tenant is under
    the exact boundary)."""
    from pyspark.sql import functions as F

    from vector_index_spark.api import VectorIndex
    from vector_index_spark.config import IndexParameters
    from vector_index_spark.functions.distance import cos_dist
    from pyspark.sql import Window

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    train = emb.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"), "label"
    )
    test = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec"), "label"
    )
    idx = VectorIndex.build(
        train.select("id", "vec"),
        IndexParameters(
            dimension=64, sub_index_bound=250,
            distance_type="cosine_similarity",
        ),
    )
    sidx = idx.serving(
        attrs=train.select("id", "label"), attr_col="label"
    ).warm()
    try:
        got = sorted(
            (r["qid"], r["rank"], r["id"], round(r["dist"], 9))
            for r in sidx.query_by_attribute(
                test, 10, qattr_col="label"
            ).collect()
        )
        # exact per-label cosine kNN
        t = test.select("qid", F.col("vec").alias("__qv"), "label")
        c = train.select("id", F.col("vec").alias("__cv"), "label")
        d = c.join(F.broadcast(t), "label").select(
            "qid", "id", cos_dist(F.col("__qv"), F.col("__cv")).alias("dist")
        )
        w = Window.partitionBy("qid").orderBy(
            F.col("dist").asc(), F.col("id").asc()
        )
        want = sorted(
            (r["qid"], r["rank"], r["id"], round(r["dist"], 9))
            for r in d.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .collect()
        )
        assert got == want
    finally:
        sidx.unpersist()


def test_composite_attr_domain_validation(spark):
    """ADVICE r7: _composite_attr's mixed-radix encoding is only
    injective over codes in [0, card_j). (a) An allowed value >= card_j
    on a non-first column previously ALIASED a different real tuple —
    it must now match nothing; (b) negative attribute codes in the data
    are refused (they would alias); (c) in-domain conjunctions are
    unaffected."""
    from vector_index_spark.api import VectorIndex
    from vector_index_spark.operators.knn import knn_join

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    train = emb.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"),
        "label", (F.col("vec_id") % 3).alias("label2"),
    )
    test = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec")
    )
    idx = VectorIndex.build(train.select("id", "vec"), PARAMS)
    attrs = train.select("id", "label", "label2")
    # (a) label2 has domain {0,1,2} (card 3): asking for label2=5 must
    # return NOTHING — the old encoding aliased (label, 5) onto
    # (label+1, 2), silently returning rows violating the conjunction
    res = idx.filtered_query(
        test, K, attrs, [[3], [5]], attr_col=["label", "label2"]
    )
    assert res.count() == 0
    # (c) an in-domain conjunction still equals exact filtered kNN
    pred = (F.col("label") == 3) & (F.col("label2") == 1)
    want = sorted(
        (r.qid, r.rank, r.id, round(r.dist, 9))
        for r in knn_join(test, train.filter(pred), K).collect()
    )
    got = sorted(
        (r.qid, r.rank, r.id, round(r.dist, 9))
        for r in idx.filtered_query(
            test, K, attrs, [[3], [1]], attr_col=["label", "label2"]
        ).collect()
    )
    assert got == want
    # (b) negative codes in the attribute DATA are refused
    neg = attrs.withColumn(
        "label2", F.when(F.col("id") % 11 == 0, F.lit(-1)).otherwise(
            F.col("label2")
        )
    )
    with pytest.raises(ValueError, match="non-negative"):
        idx.filtered_query(
            test, K, neg, [[3], [1]], attr_col=["label", "label2"]
        )


def test_cosine_serving_query_by_window(spark):
    """_CosineServing passes per-query windows through with the cosine
    transform: results equal exact cosine kNN over each query's own
    [lo, hi) window."""
    from vector_index_spark.api import VectorIndex
    from vector_index_spark.config import IndexParameters
    from vector_index_spark.operators.knn import knn_join

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    train = emb.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"),
        (F.col("vec_id") % 100).alias("day"),
    )
    test = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec")
    ).limit(20)
    cos = VectorIndex.build(
        train.select("id", "vec"),
        IndexParameters(
            dimension=64, sub_index_bound=250,
            distance_type="cosine_similarity",
        ),
    )
    sidx = cos.serving(
        attrs=train.select("id", "day"), attr_col="day"
    ).warm()
    try:
        q = test.select(
            "qid", "vec",
            ((F.col("qid") % 40) + 1).alias("lo"),
            ((F.col("qid") % 40) + 4).alias("hi"),
        ).localCheckpoint(eager=True)
        got = sorted(
            (r.qid, r.rank, r.id, round(r.dist, 9))
            for r in sidx.query_by_window(q, K).collect()
        )
        want = []
        for row in q.collect():
            sub = train.filter(
                (F.col("day") >= row.lo) & (F.col("day") < row.hi)
            ).select("id", "vec")
            one = spark.createDataFrame(
                [(row.qid, list(row.vec))], "qid long, vec array<double>"
            )
            want += [
                (r.qid, r.rank, r.id, round(r.dist, 9))
                for r in knn_join(
                    one, sub, K, metric="cosine_similarity"
                ).collect()
            ]
        assert got == sorted(want) and got
    finally:
        sidx.unpersist()


def test_composite_dnf_union_guard_and_single_aggregate(spark, monkeypatch):
    """Round 10 (VERDICT r9 item 8): _composite_attr's 10k enumeration
    guard bounds the UNION of all AnyOf disjuncts (previously each
    conjunction paid its own guard while codes accumulated unbounded),
    and the min/max stats aggregate runs ONCE for the whole spec
    (previously once per disjunct)."""
    from vector_index_spark.api import VectorIndex
    from vector_index_spark.operators.filtered import AnyOf

    attrs = spark.range(0, 6000).select(
        F.col("id"),
        (F.col("id") % 200).alias("c1"),
        (F.col("id") % 30).alias("c2"),
    ).localCheckpoint(eager=True)

    # count stats aggregates by spying on DataFrame.agg
    import pyspark.sql.classic.dataframe as cdf

    calls = {"n": 0}
    orig = cdf.DataFrame.agg

    def spy(self, *a, **k):
        calls["n"] += 1
        return orig(self, *a, **k)

    monkeypatch.setattr(cdf.DataFrame, "agg", spy)

    # three small disjuncts: ONE aggregate, codes = exact union
    small = AnyOf(
        [[3], [5]], [[4], range(0, 2)], [[3], [5]]  # dup disjunct dedupes
    )
    expr, codes = VectorIndex._composite_attr(attrs, ["c1", "c2"], small)
    assert calls["n"] == 1
    want = set()
    for conj in ([[3], [5]], [[4], range(0, 2)]):
        _, cl = VectorIndex._composite_attr(attrs, ["c1", "c2"], conj)
        want |= set(cl)
    assert codes == sorted(want)

    # each disjunct alone is 6000 combos (< 10k) but the union is
    # 12000 — the guard must fire on the SUM
    big = AnyOf(
        [range(0, 200), range(0, 30)],
        [range(0, 200), slice(0, 30)],
    )
    with pytest.raises(ValueError, match="summed over"):
        VectorIndex._composite_attr(attrs, ["c1", "c2"], big)


def test_cosine_serving_snapshot_roundtrip(spark, tmp_path):
    """Round 10: idx.serving().snapshot() stamps the metric into the
    manifest and VectorIndex.serving_from_snapshot restores the SAME
    adapter — a cosine snapshot restored bare would serve
    l2sq-on-normalized distances (right ids, wrong scale, no error).
    Euclidean snapshots restore as the bare ServingIndex."""
    from vector_index_spark.api import VectorIndex, _CosineServing
    from vector_index_spark.config import IndexParameters
    from vector_index_spark.index.serving import ServingIndex

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    train = emb.filter(F.col("vec_id") % 10 != 0).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    test = emb.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vec")
    ).limit(20).localCheckpoint(eager=True)

    cos = VectorIndex.build(
        train,
        IndexParameters(
            dimension=64, sub_index_bound=250,
            distance_type="cosine_similarity",
        ),
    )
    live = cos.serving().warm()
    path = str(tmp_path / "cos_snap")
    try:
        live.snapshot(path)
        restored = VectorIndex.serving_from_snapshot(spark, path).warm()
        assert isinstance(restored, _CosineServing)
        try:
            a = sorted(
                (r.qid, r.rank, r.id, round(r.dist, 9))
                for r in live.query(test, K).collect()
            )
            b = sorted(
                (r.qid, r.rank, r.id, round(r.dist, 9))
                for r in restored.query(test, K).collect()
            )
            assert a == b
        finally:
            restored.unpersist()
    finally:
        live.unpersist()

    # euclidean snapshots restore bare
    euc = VectorIndex.build(train, PARAMS)
    elive = euc.serving().warm()
    epath = str(tmp_path / "euc_snap")
    try:
        elive.snapshot(epath)
        erestored = VectorIndex.serving_from_snapshot(spark, epath)
        assert isinstance(erestored, ServingIndex)
        erestored.unpersist()
    finally:
        elive.unpersist()


def test_facade_constrained_dispatch(spark, data):
    """Round 11 (VERDICT r10 item 5): the facade's per-query constrained
    forms dispatch to the measured fast route — the resident GRAPH
    ServingIndex single-pass grouped-mask engine (SCALE.md routing
    rule) — build the warm handle lazily ONCE per attr-column set, and
    reuse it across calls. Results equal exact per-row window kNN."""
    from vector_index_spark.index.serving import ServingIndex
    from vector_index_spark.operators.knn import knn_join

    train, test = data
    attrs = train.select("id", (F.col("id") % 100).alias("day"))
    idx = VectorIndex.build(train, PARAMS)
    q = test.limit(12).select(
        "qid", "vec",
        ((F.col("qid") % 30) + 1).alias("lo"),
        ((F.col("qid") % 30) + 4).alias("hi"),
    ).localCheckpoint(eager=True)

    got = sorted(
        (r.qid, r.rank, r.id, round(r.dist, 9))
        for r in idx.query_by_window(
            q, K, attrs=attrs, attr_col="day"
        ).collect()
    )
    # dispatch pinned: the cached handle IS the graph serving route
    handle, _src = idx._serving_cache[("day",)]
    assert isinstance(handle, ServingIndex)
    # reuse pinned: a second call (tenant form, same attr set) must not
    # rebuild the handle
    t2 = test.limit(5).withColumn("day", (F.col("qid") % 100)).localCheckpoint(
        eager=True
    )
    idx.query_by_attribute(t2, K, qattr_col="day", attr_col="day").count()
    assert idx._serving_cache[("day",)][0] is handle
    # round 12 (ADVICE): same attrs plan re-derived -> still reuse (no
    # rebuild); a semantically DIFFERENT attrs for the same attr_col
    # rebuilds instead of silently serving stale attribute values
    attrs_same = train.select("id", (F.col("id") % 100).alias("day"))
    idx.query_by_attribute(
        t2, K, qattr_col="day", attrs=attrs_same, attr_col="day"
    ).count()
    assert idx._serving_cache[("day",)][0] is handle
    attrs_new = train.select("id", (F.col("id") % 7).alias("day"))
    idx.query_by_attribute(
        t2, K, qattr_col="day", attrs=attrs_new, attr_col="day"
    ).count()
    assert idx._serving_cache[("day",)][0] is not handle
    # and the cache can be released wholesale
    idx.invalidate_serving_cache()
    assert idx._serving_cache == {}
    # rebuild once more so the window-parity check below still has a
    # handle packed from the ORIGINAL attrs
    idx.query_by_window(q, K, attrs=attrs, attr_col="day").count()

    corp = train.join(attrs, "id")
    want = []
    for row in q.collect():
        sub = corp.filter(
            (F.col("day") >= row.lo) & (F.col("day") < row.hi)
        ).select("id", "vec")
        one = spark.createDataFrame(
            [(row.qid, list(row.vec))], "qid long, vec array<double>"
        )
        want += [
            (r.qid, r.rank, r.id, round(r.dist, 9))
            for r in knn_join(one, sub, K).collect()
        ]
    assert got == sorted(want)

    # attr_col is mandatory on the facade forms
    with pytest.raises(ValueError, match="attr_col"):
        idx.query_by_window(q, K)
    handle.unpersist()
