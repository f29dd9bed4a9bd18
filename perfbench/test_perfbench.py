"""The benchmark's own tests: the event-log reader and span attribution on
a hand-made log, and every oracle catching a corrupted result. No Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import evlog
import inputs
import oracles
from oracles import CheckFailed


# -- event log ---------------------------------------------------------------

def _task(stage, cpu_ns, shuffle, py_start_ms=0, py_run_ms=0, sent=0):
    acc = []
    if py_start_ms or py_run_ms or sent:
        acc = [{"ID": 1, "Name": "time to start Python workers", "Update": str(py_start_ms)},
               {"ID": 2, "Name": "time to run Python workers", "Update": str(py_run_ms)},
               {"ID": 3, "Name": "data sent to Python workers", "Update": str(sent)},
               {"ID": 4, "Name": "number of output rows", "Update": "7"}]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Accumulables": acc},
            "Task Metrics": {"Executor CPU Time": cpu_ns,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def _job(jid, group, stages, submit_ms, end_ms):
    props = {"spark.jobGroup.id": group} if group else {}
    return [{"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit_ms,
             "Stage IDs": stages, "Properties": props},
            *[{"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": s},
               "Properties": props} for s in stages],
            {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms}]


def _write_v2_log(root, events, parts=2):
    d = os.path.join(root, "eventlog_v2_local-1")
    os.makedirs(d)
    open(os.path.join(d, "appstatus_local-1"), "w").close()
    chunk = -(-len(events) // parts)
    # written out of name order to check the part-number sort
    for p in reversed(range(parts)):
        with open(os.path.join(d, f"events_{p + 1}_local-1"), "w") as fh:
            for e in events[p * chunk:(p + 1) * chunk]:
                fh.write(json.dumps(e) + "\n")


def _hand_made_events():
    # span 0 [100, 110) holds span 1 [102, 106); jobs in seconds:
    #   job 0 (group pb-0) 100.5-101.5, stage 0: two tasks
    #   job 1 (group pb-1) 102.0-105.0, stages 1, 2
    #   job 2 (no group)   107.0-108.0, stage 3: not attributed
    ev = [{"Event": "SparkListenerLogStart"}]
    ev += _job(0, "pb-0", [0], 100_500, 101_500)[:2]
    ev += [_task(0, 2_000_000_000, 100, py_start_ms=1500, py_run_ms=250, sent=64),
           _task(0, 1_000_000_000, 50)]
    ev += _job(0, "pb-0", [0], 100_500, 101_500)[2:]
    ev += _job(1, "pb-1", [1, 2], 102_000, 105_000)
    ev += [_task(1, 500_000_000, 10), _task(2, 250_000_000, 0, py_run_ms=1000, sent=8)]
    ev += _job(2, None, [3], 107_000, 108_000)
    ev += [_task(3, 9_000_000_000, 999)]
    return ev


SPANS = [{"id": 0, "name": "outer", "slot": "primary", "phase": "measure", "parent": None,
          "start": 100.0, "end": 110.0},
         {"id": 1, "name": "inner", "slot": None, "phase": "measure", "parent": 0,
          "start": 102.0, "end": 106.0}]


def test_event_log_reader_orders_v2_parts(tmp_path):
    events = _hand_made_events()
    _write_v2_log(str(tmp_path), events)
    assert evlog.read_event_log(str(tmp_path)) == events


def test_group_counters_from_hand_made_log():
    g = evlog.group_counters(_hand_made_events())
    assert set(g) == {"pb-0", "pb-1"}
    assert g["pb-0"]["job_spans"] == [(100.5, 101.5)]
    assert g["pb-0"]["tasks"] == 2
    assert g["pb-0"]["executor_cpu_s"] == pytest.approx(3.0)
    assert g["pb-0"]["shuffle_write_bytes"] == 150
    assert g["pb-0"]["py_start_s"] == pytest.approx(1.5)
    assert g["pb-0"]["py_run_s"] == pytest.approx(0.25)
    assert g["pb-0"]["py_bytes_sent"] == 64
    assert g["pb-1"]["tasks"] == 2
    assert g["pb-1"]["py_run_s"] == pytest.approx(1.0)


def test_layer_records_self_time_and_between_jobs():
    recs = {r["name"]: r for r in evlog.layer_records(SPANS, evlog.group_counters(_hand_made_events()))}
    outer, inner = recs["outer"], recs["inner"]
    assert inner["wall_s"] == pytest.approx(4.0)
    assert inner["self_s"] == pytest.approx(4.0)
    assert inner["jobs"] == 1
    assert inner["between_jobs_s"] == pytest.approx(1.0)  # 3 s of 4 in job 1
    assert outer["self_s"] == pytest.approx(6.0)  # 10 s minus the child's 4
    # counters are inclusive of the child; the ungrouped job is nobody's
    assert outer["jobs"] == 2
    assert outer["tasks"] == 4
    assert outer["executor_cpu_s"] == pytest.approx(3.75)
    assert outer["shuffle_write_bytes"] == 160
    assert outer["between_jobs_s"] == pytest.approx(10.0 - 1.0 - 3.0)
    by_slot = evlog.median_by(list(recs.values()), "slot")
    assert set(by_slot) == {"primary"} and by_slot["primary"]["calls"] == 1


def test_covered_merges_overlaps_and_clips():
    assert evlog.covered([(0, 2), (1, 3), (5, 6), (9, 20)], 0, 10) == pytest.approx(5.0)
    assert evlog.covered([], 0, 10) == 0.0
    assert evlog.covered([(-5, -1)], 0, 10) == 0.0


# -- vector oracles ----------------------------------------------------------

K = 3


@pytest.fixture
def knn_case():
    rng = np.random.default_rng(7)
    X = rng.standard_normal((50, 4)).astype(np.float32)
    Q = rng.standard_normal((5, 4)).astype(np.float32)
    ids = np.arange(100, 150)
    qids = np.arange(5)
    eids, ed = oracles.exact_topk(Q, X, ids, K)
    rows = [(int(q), r + 1, int(eids[p, r]), float(ed[p, r]))
            for p, q in enumerate(qids) for r in range(K)]
    return X, Q, ids, qids, eids, ed, rows


def test_exact_topk_matches_loop(knn_case):
    X, Q, ids, _, eids, ed, _ = knn_case
    for p, q in enumerate(Q.astype(np.float64)):
        d = sorted((float(((X[i].astype(np.float64) - q) ** 2).sum()), int(ids[i]))
                   for i in range(len(X)))[:K]
        assert [i for _, i in d] == list(eids[p])
        assert np.allclose([x for x, _ in d], ed[p], rtol=1e-12)


def test_topk_oracles_accept_the_truth(knn_case):
    X, Q, ids, qids, eids, ed, rows = knn_case
    got = oracles.check_topk_rows(rows, qids, Q, dict(zip(ids.tolist(), X)), K)
    oracles.check_exact_rows(rows, qids, eids, ed)
    assert oracles.recall(got, qids, eids) == 1.0


def test_topk_oracles_catch_a_dropped_neighbour(knn_case):
    X, Q, ids, qids, eids, ed, rows = knn_case
    broken = [r for r in rows if not (r[0] == 2 and r[1] == 2)]
    with pytest.raises(CheckFailed, match="ranks"):
        oracles.check_topk_rows(broken, qids, Q, dict(zip(ids.tolist(), X)), K)
    with pytest.raises(CheckFailed, match="ids"):
        oracles.check_exact_rows(broken, qids, eids, ed)


def test_topk_oracles_catch_a_perturbed_distance(knn_case):
    X, Q, ids, qids, eids, ed, rows = knn_case
    broken = [(q, r, i, d * (1 + 1e-7) if (q, r) == (1, 1) else d) for q, r, i, d in rows]
    with pytest.raises(CheckFailed, match="recomputed"):
        oracles.check_topk_rows(broken, qids, Q, dict(zip(ids.tolist(), X)), K)
    with pytest.raises(CheckFailed, match="dist"):
        oracles.check_exact_rows(broken, qids, eids, ed)
    with pytest.raises(CheckFailed, match="differ"):
        oracles.check_same_answers(rows, broken, "replay")


def test_topk_oracle_catches_a_duplicate_id(knn_case):
    X, Q, ids, qids, _, _, rows = knn_case
    first = {(q, r): (i, d) for q, r, i, d in rows}
    broken = [(q, r, *first[(q, 1)]) if (q, r) == (0, 2) else (q, r, i, d)
              for q, r, i, d in rows]
    with pytest.raises(CheckFailed):
        oracles.check_topk_rows(broken, qids, Q, dict(zip(ids.tolist(), X)), K)


def test_self_hit_oracle():
    got = {7: [(1, 70, 0.0), (2, 71, 1.0)]}
    oracles.check_self_hits(got, {7: 70})
    with pytest.raises(CheckFailed):
        oracles.check_self_hits({7: [(1, 70, 1e-12)]}, {7: 70})
    with pytest.raises(CheckFailed):
        oracles.check_self_hits({7: [(1, 71, 0.0)]}, {7: 70})


# -- text dedup oracles ------------------------------------------------------

TEXTS = {
    0: "The quick brown fox jumps over the lazy dog today",
    1: "the QUICK, brown fox jumps over the lazy dog. today",   # exact dup of 0
    2: "The quick brown fox jumps over the lazy cat today",     # near dup
    3: "entirely different words live in this one sentence here",
    4: "entirely different words live in this one sentence here",  # exact dup of 3
}


def test_shingles_follow_the_documented_tokenization():
    assert oracles.shingles("A-b c!!D e") == frozenset({"a b c", "b c d", "c d e"})
    assert oracles.shingles(TEXTS[0]) == oracles.shingles(TEXTS[1])


def _dedup_truth(threshold=0.5):
    sh = {d: oracles.shingles(t) for d, t in TEXTS.items()}
    pairs = oracles.jaccard_pairs(sh, threshold)
    return sh, pairs, oracles.exact_dup_pairs(TEXTS)


def test_jaccard_pairs_match_all_pairs_loop():
    sh, pairs, exact = _dedup_truth(0.3)
    loop = {(a, b): oracles.jaccard(sh[a], sh[b]) for a in sh for b in sh if a < b}
    assert pairs == {p: j for p, j in loop.items() if j >= 0.3}
    assert exact == {(0, 1), (3, 4)}


def test_minhash_oracle_accepts_truth_and_catches_corruptions():
    sh, pairs, exact = _dedup_truth()
    rows = [(a, b, j) for (a, b), j in pairs.items()]
    assert oracles.check_minhash_pairs(rows, sh, 0.5, exact) == set(pairs)
    missing = [r for r in rows if (r[0], r[1]) != (3, 4)]
    with pytest.raises(CheckFailed, match="exact-duplicate"):
        oracles.check_minhash_pairs(missing, sh, 0.5, exact)
    perturbed = [(a, b, j - 1e-6 if (a, b) == (0, 2) else j) for a, b, j in rows]
    with pytest.raises(CheckFailed, match="recomputed"):
        oracles.check_minhash_pairs(perturbed, sh, 0.5, exact)
    with pytest.raises(CheckFailed, match="below"):
        oracles.check_minhash_pairs(rows + [(0, 3, 0.0)], sh, 0.5, exact)
    with pytest.raises(CheckFailed, match="ordered"):
        oracles.check_minhash_pairs([(b, a, j) for a, b, j in rows], sh, 0.5, exact)


def test_cluster_oracle():
    pairs = {(0, 1), (1, 2), (3, 4)}
    rows = [(0, 0, 1), (1, 0, 0), (2, 0, 0), (3, 3, 1), (4, 3, 0), (5, 5, 1)]
    oracles.check_clusters(rows, range(6), pairs)
    with pytest.raises(CheckFailed, match="component min"):
        oracles.check_clusters([(2, 1, 0) if r[0] == 2 else r for r in rows], range(6), pairs)
    with pytest.raises(CheckFailed, match="keep"):
        oracles.check_clusters([(4, 3, 1) if r[0] == 4 else r for r in rows], range(6), pairs)
    with pytest.raises(CheckFailed, match="missing"):
        oracles.check_clusters(rows[:-1], range(6), pairs)
    # a dropped pair splits a component: the reported clusters no longer fit
    with pytest.raises(CheckFailed):
        oracles.check_clusters(rows, range(6), pairs - {(1, 2)})


# -- embedding dedup oracle --------------------------------------------------

def test_cosine_oracle_matches_loop_and_catches_corruptions():
    rng = np.random.default_rng(3)
    X = inputs.near_copies(rng, rng.standard_normal((300, 8)).astype(np.float32), 0.1, 0.01)
    ids = np.arange(1000, 1300)
    t = 0.01
    truth = oracles.cosine_pairs(X, ids, t, block=64)
    Xd = X.astype(np.float64)
    loop = {}
    for a in range(len(X)):
        for b in range(a + 1, len(X)):
            c = 1 - Xd[a] @ Xd[b] / (np.linalg.norm(Xd[a]) * np.linalg.norm(Xd[b]))
            if c < t:
                loop[(int(ids[a]), int(ids[b]))] = c
    assert set(truth) == set(loop) and len(truth) >= 20  # about 30 planted copies
    rows = [(a, b, c) for (a, b), c in truth.items()]
    oracles.check_cosine_pairs(rows, truth, t)
    with pytest.raises(CheckFailed, match="missed"):
        oracles.check_cosine_pairs(rows[1:], truth, t)
    with pytest.raises(CheckFailed, match="beyond"):
        oracles.check_cosine_pairs(rows + [(1000, 1299, 0.5)], truth, t)
    a, b, c = rows[0]
    with pytest.raises(CheckFailed, match="cos"):
        oracles.check_cosine_pairs([(a, b, c + 1e-6)] + rows[1:], truth, t)
    # a pair sitting on the threshold is excluded from the comparison
    oracles.check_cosine_pairs(rows, {**truth, (1000, 1298): t - 1e-12}, t)


# -- inputs ------------------------------------------------------------------

def test_inputs_are_a_function_of_the_seed():
    a = inputs.rng_for("dedup_pipeline", 5)
    b = inputs.rng_for("dedup_pipeline", 5)
    assert inputs.documents(a, 50) == inputs.documents(b, 50)
    assert np.array_equal(inputs.centres(a), inputs.centres(b))
    c = inputs.rng_for("dedup_pipeline", 6)
    assert inputs.documents(c, 50) != inputs.documents(inputs.rng_for("dedup_pipeline", 5), 50)


def test_documents_plant_duplicates():
    texts = inputs.documents(inputs.rng_for("dedup_pipeline", 1), 400)
    exact = oracles.exact_dup_pairs(dict(enumerate(texts)))
    sh = {i: oracles.shingles(t) for i, t in enumerate(texts)}
    near = oracles.jaccard_pairs(sh, 0.5)
    assert len(exact) >= 5 and len(near) > len(exact)
    assert all(len(s) == inputs.DOC_WORDS - 2 for s in sh.values() if len(s) > 0)
