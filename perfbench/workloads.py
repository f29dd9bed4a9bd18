"""The workloads. Each generates its inputs from the seed, hands the
program only those inputs, times the public calls through ``Bench.call``
and checks every output against the oracles.

Slots (what the end-to-end latency metrics report):

    workload        primary                 secondary              tertiary
    serving_mixed   ServingIndex.query      write wave             snapshot restore
    dedup_pipeline  minhash_near_dup        embedding_near_dup     near_dup_clusters
"""

from __future__ import annotations

import numpy as np

import inputs
import oracles
from harness import Bench

K = 10
RECALL_FLOOR = 0.85

# serving_mixed: the reference protocol (build, save, load, top-k query,
# exact kNN) sets up a warm serving handle, which then answers 10-query
# batches with a write wave after every few batches
SERVE_N, SERVE_SHARD, SERVE_BATCH = 4096, 256, 10
SERVE_BATCHES_PER_WAVE, SERVE_WAVE = 5, 200
SERVE_ROUND_S = 8.0  # nominal: 5 batches and one write wave
RESTORES = 4
ANALYTIC_QUERIES, ANALYTIC_RM = 200, 16  # at the default patience of 64 recall is 1.0
ANALYTIC_PASSES = 3  # warm VectorIndex.query + knn_fast passes after the restores

# dedup_pipeline: text near-dups and embedding near-dups
DEDUP_DOCS, DEDUP_VECTORS = 1200, 2048
JACCARD_THRESHOLD = 0.5
COS_THRESHOLD = 0.01
EMB_DUP_RATE, EMB_DUP_NOISE = 0.05, 0.05
DEDUP_ROUND_S = 8.0  # nominal: one pass of each of the three operators


def _params():
    from vector_index_spark import IndexParameters

    return IndexParameters(dimension=inputs.DIM, minimum_connect_number=8,
                           relaxed_monotonicity=64, step=2, sub_index_bound=SERVE_SHARD)


def _build(frame, params):
    """``VectorIndex.build`` with its lazy edge relation materialized, so
    the build's work is done inside the timed call."""
    from vector_index_spark import VectorIndex

    idx = VectorIndex.build(frame, params)
    return VectorIndex(idx.vectors, idx.edges.localCheckpoint(eager=True), idx.params)


# -- serving_mixed -----------------------------------------------------------

def serving_mixed(b: Bench, rng: np.random.Generator) -> None:
    from vector_index_spark import VectorIndex
    from vector_index_spark.index.builder import append_to_index
    from vector_index_spark.operators.knn_fast import knn_fast

    cs = inputs.centres(rng)
    X = inputs.mixture(rng, SERVE_N, cs)
    ids = np.arange(SERVE_N)
    corpus = b.vectors_frame("corpus", ids, X)
    idx_path, snap = b.path("index"), b.path("snapshot")
    built = b.call("index.builder.build", lambda: _build(corpus, _params()))
    b.call("index.persistence.save", lambda: built.save(idx_path))
    idx = b.call("index.persistence.load", lambda: VectorIndex.load(b.spark, idx_path))
    sv = b.call("index.serving.warm", lambda: idx.serving().warm())
    b.call("index.serving.snapshot", lambda: sv.snapshot(snap))
    b.setup_done()

    state = {"X": X, "ids": ids, "next_id": SERVE_N, "next_qid": 0, "hits": 0, "asked": 0}

    def batch(Q: np.ndarray, slot: str | None = "primary"):
        qids = np.arange(state["next_qid"], state["next_qid"] + len(Q))
        state["next_qid"] += len(Q)
        frame = b.local_vectors(qids, Q)
        rows = b.call("index.serving.query", lambda: sv.query(frame, K).collect(), slot)
        vec_of = dict(zip(state["ids"].tolist(), state["X"]))
        got = oracles.check_topk_rows(rows, qids, Q, vec_of, K)
        exact_ids, _ = oracles.exact_topk(Q, state["X"], state["ids"], K)
        rec = oracles.recall(got, qids, exact_ids)
        state["hits"] += rec * exact_ids.size
        state["asked"] += exact_ids.size
        return frame, rows, got, qids

    def wave() -> np.ndarray:
        W = inputs.mixture(rng, SERVE_WAVE, cs)
        wids = np.arange(state["next_id"], state["next_id"] + SERVE_WAVE)
        frame = b.local_vectors(wids, W, "id")
        with b.group("write_wave", "secondary"):
            shards = b.call("index.builder.append",
                            lambda: append_to_index(b.spark, idx_path, frame))
            grown = b.call("index.persistence.load", lambda: VectorIndex.load(b.spark, idx_path))
            b.call("index.serving.refresh", lambda: sv.refresh(grown.vectors, grown.edges, shards))
            b.call("index.serving.snapshot_incremental", lambda: sv.snapshot_incremental(snap))
        state["X"] = np.concatenate([state["X"], W])
        state["ids"] = np.concatenate([state["ids"], wids])
        state["next_id"] += SERVE_WAVE
        return W

    # warm-up with the reference protocol's checks: the 200-query batch
    # through the serving handle built from the loaded index answers
    # exactly as VectorIndex.query(auto_scale=False) with the same knobs
    # did on the index before it was saved (the documented serving parity
    # and save -> load identity in one comparison), above the recall floor
    AQ = inputs.mixture(rng, ANALYTIC_QUERIES, cs)
    aqids = np.arange(ANALYTIC_QUERIES)
    analytic = b.local_vectors(aqids, AQ)
    before = b.call("index.searcher.query", lambda: built.query(
        analytic, K, relaxed_monotonicity=ANALYTIC_RM, auto_scale=False).collect())
    got = oracles.check_topk_rows(before, aqids, AQ, dict(zip(ids.tolist(), X)), K)
    analytic_recall = oracles.recall(got, aqids, oracles.exact_topk(AQ, X, ids, K)[0])
    oracles.require(analytic_recall >= RECALL_FLOOR,
                    f"batch query recall {analytic_recall:.4f} below {RECALL_FLOOR}")
    served = b.call("index.serving.query", lambda: sv.query(
        analytic, K, relaxed_monotonicity=ANALYTIC_RM).collect())
    oracles.check_same_answers(before, served, "loaded serving handle vs VectorIndex.query")
    exact = b.call("operators.knn_fast.query", lambda: knn_fast(analytic, corpus, K).collect())
    oracles.check_exact_rows(exact, aqids, *oracles.exact_topk(AQ, X, ids, K))
    fixed, _, _, _ = batch(inputs.mixture(rng, SERVE_BATCH, cs), None)
    state["hits"] = state["asked"] = 0

    def one_round(r: int) -> None:
        for _ in range(SERVE_BATCHES_PER_WAVE - 1):
            batch(inputs.mixture(rng, SERVE_BATCH, cs))
        W = wave()
        # the wave's own vectors, queried as themselves, come back first
        pick = rng.choice(SERVE_WAVE, SERVE_BATCH, replace=False)
        _, _, got, qids = batch(W[pick])
        oracles.check_self_hits(got, dict(zip(qids.tolist(),
                                              (state["next_id"] - SERVE_WAVE + pick).tolist())))

    def finish() -> None:
        live = b.call("index.serving.query", lambda: sv.query(fixed, K).collect())
        # the first restore of a run is cold (first run of its plans): untimed
        for slot in [None] + ["tertiary"] * RESTORES:
            restored = b.call("index.serving.restore",
                              lambda: VectorIndex.serving_from_snapshot(b.spark, snap).warm(),
                              slot)
        replay = b.call("index.serving.query", lambda: restored.query(fixed, K).collect())
        oracles.check_same_answers(live, replay, "restored handle vs live handle")
        # the analytic path, warm, over the grown corpus as written to the
        # index files: top-k batch query and exact kNN
        grown = VectorIndex.load(b.spark, idx_path)
        vec_of = dict(zip(state["ids"].tolist(), state["X"]))
        exact_ids, exact_d = oracles.exact_topk(AQ, state["X"], state["ids"], K)
        for _ in range(ANALYTIC_PASSES):
            rows = b.call("index.searcher.query", lambda: grown.query(
                analytic, K, relaxed_monotonicity=ANALYTIC_RM, auto_scale=False).collect())
            rec = oracles.recall(oracles.check_topk_rows(rows, aqids, AQ, vec_of, K), aqids,
                                 exact_ids)
            oracles.require(rec >= RECALL_FLOOR, f"batch query recall {rec:.4f} below {RECALL_FLOOR}")
            exact = b.call("operators.knn_fast.query",
                           lambda: knn_fast(analytic, grown.vectors, K).collect())
            oracles.check_exact_rows(exact, aqids, exact_ids, exact_d)

    b.measure(one_round, SERVE_ROUND_S, finish)
    b.recall = state["hits"] / state["asked"]
    oracles.require(b.recall >= RECALL_FLOOR, f"serving recall {b.recall:.4f} below {RECALL_FLOOR}")
    lat = b.samples["primary"]
    b.info["serve_batches"] = len(lat)
    b.info["serve_qps"] = SERVE_BATCH * len(lat) / sum(lat)
    b.info["serving_resident_mb"] = sv.bytes_resident()["pinned_bytes"] / 2**20
    setup = {sp["name"]: sp["seconds"] for sp in b.tracer.spans if sp["phase"] == "setup"}
    b.info["index_build_s"] = setup["index.builder.build"]
    b.info["index_save_load_s"] = setup["index.persistence.save"] + setup["index.persistence.load"]
    b.info["serving_warm_s"] = setup["index.serving.warm"]
    b.info["batch_query_recall_at_10"] = analytic_recall
    for name, key in (("index.searcher.query", "batch_query_qps"),
                      ("operators.knn_fast.query", "exact_knn_qps")):
        b.info[key] = ANALYTIC_QUERIES / float(np.median(b.by_name[name]))


# -- dedup_pipeline ----------------------------------------------------------

def dedup_pipeline(b: Bench, rng: np.random.Generator) -> None:
    from vector_index_spark.operators.components import near_dup_clusters
    from vector_index_spark.operators.dedup import embedding_near_dup, minhash_near_dup

    texts = inputs.documents(rng, DEDUP_DOCS)
    doc_ids = np.arange(DEDUP_DOCS)
    cs = inputs.centres(rng)
    V = inputs.near_copies(rng, inputs.mixture(rng, DEDUP_VECTORS, cs),
                                     EMB_DUP_RATE, EMB_DUP_NOISE)
    vids = np.arange(DEDUP_VECTORS)
    docs = b.text_frame("docs", doc_ids, texts)
    vecs = b.vectors_frame("vectors", vids, V)
    b.setup_done()

    sh = {int(d): oracles.shingles(t) for d, t in zip(doc_ids, texts)}
    true_pairs = oracles.jaccard_pairs(sh, JACCARD_THRESHOLD)
    exact_pairs = oracles.exact_dup_pairs(dict(zip(doc_ids.tolist(), texts)))
    cos_oracle = oracles.cosine_pairs(V, vids, COS_THRESHOLD)

    def one_round(r: int) -> None:
        pairs = b.call("operators.dedup.minhash_pairs",
                       lambda: minhash_near_dup(docs).localCheckpoint(eager=True), "primary")
        clusters = b.call("operators.components.clusters",
                          lambda: near_dup_clusters(docs, pairs).collect(), "tertiary")
        emb = b.call("operators.dedup.embedding_pairs",
                     lambda: embedding_near_dup(vecs, vec_col="vec", id_col="id",
                                                cos_threshold=COS_THRESHOLD).collect(),
                     "secondary")
        found = oracles.check_minhash_pairs(pairs.collect(), sh, JACCARD_THRESHOLD, exact_pairs)
        oracles.check_clusters([(r_.doc_id, r_.cluster_id, r_.keep) for r_ in clusters],
                               doc_ids, found)
        oracles.check_cosine_pairs(emb, cos_oracle, COS_THRESHOLD)
        b.recall = len(found & set(true_pairs)) / len(true_pairs)

    one_round(-1)  # warm-up
    b.measure(one_round, DEDUP_ROUND_S)
    b.info["minhash_dedup_docs_per_s"] = DEDUP_DOCS / np.median(
        np.add(b.samples["primary"], b.samples["tertiary"]))
    b.info["embedding_dedup_vectors_per_s"] = DEDUP_VECTORS / np.median(b.samples["secondary"])
    b.info["oracle_pairs"] = len(true_pairs)


WORKLOADS = {"serving_mixed": serving_mixed, "dedup_pipeline": dedup_pipeline}
