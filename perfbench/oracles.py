"""Correctness oracles. Each is computed from the generated inputs alone,
never by calling the program, and raises CheckFailed on a violation."""

from __future__ import annotations

import re
from collections import defaultdict

import numpy as np

DIST_RTOL = 1e-9
TOKEN_SPLIT = re.compile("[^a-z0-9]+")


class CheckFailed(AssertionError):
    pass


def require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


# -- vectors --------------------------------------------------------------

def sq_dists(Q: np.ndarray, X: np.ndarray) -> np.ndarray:
    """Exact float64 squared L2 distances, (len(Q), len(X)), summed as
    sum((q - x)^2) so there is no cancellation near zero."""
    Q = Q.astype(np.float64)
    X = X.astype(np.float64)
    out = np.empty((len(Q), len(X)))
    for i, q in enumerate(Q):
        d = X - q
        out[i] = np.einsum("ij,ij->i", d, d)
    return out


def exact_topk(Q: np.ndarray, X: np.ndarray, ids: np.ndarray, k: int):
    """Brute-force top-k per query, ordered by (dist, id). Returns
    (ids (nq, k), dists (nq, k))."""
    D = sq_dists(Q, X)
    order = np.lexsort((np.broadcast_to(ids, D.shape), D), axis=1)[:, :k]
    return ids[order], np.take_along_axis(D, order, axis=1)


def by_query(rows) -> dict[int, list]:
    """(qid, rank, id, dist) rows grouped per qid, in rank order."""
    out: dict[int, list] = defaultdict(list)
    for r in rows:
        out[int(r[0])].append((int(r[1]), int(r[2]), float(r[3])))
    return {q: sorted(v) for q, v in out.items()}


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= DIST_RTOL * max(abs(b), 1e-300)


def check_topk_rows(rows, qids, Q, vec_of: dict[int, np.ndarray], k: int) -> dict:
    """Structural checks on an ANN answer: every query answered, ranks
    1..k, distances non-decreasing, no duplicate ids, and every dist
    equal to the recomputed l2sq of its (query, id) pair."""
    got = by_query(rows)
    require(set(got) == {int(q) for q in qids},
            f"answered queries differ: {len(got)} answered of {len(qids)}")
    qpos = {int(q): i for i, q in enumerate(qids)}
    for q, lst in got.items():
        require([r for r, _, _ in lst] == list(range(1, k + 1)),
                f"query {q}: ranks {[r for r, _, _ in lst]} are not 1..{k}")
        ids = [i for _, i, _ in lst]
        require(len(set(ids)) == len(ids), f"query {q}: duplicate ids {ids}")
        dists = [d for _, _, d in lst]
        require(all(a <= b for a, b in zip(dists, dists[1:])),
                f"query {q}: distances not non-decreasing {dists}")
        qv = Q[qpos[q]].astype(np.float64)
        for _, i, d in lst:
            require(i in vec_of, f"query {q}: id {i} is not in the corpus")
            diff = vec_of[i].astype(np.float64) - qv
            want = float(diff @ diff)
            require(_close(d, want),
                    f"query {q}, id {i}: dist {d!r} != recomputed {want!r}")
    return got


def recall(got: dict[int, list], qids, exact_ids: np.ndarray) -> float:
    hits = 0
    for pos, q in enumerate(qids):
        truth = set(int(i) for i in exact_ids[pos])
        hits += sum(1 for _, i, _ in got[int(q)] if i in truth)
    return hits / exact_ids.size


def check_exact_rows(rows, qids, exact_ids: np.ndarray, exact_d: np.ndarray) -> None:
    """An exact top-k answer must equal the brute force: same ids in the
    same order, distances within DIST_RTOL relative."""
    got = by_query(rows)
    for pos, q in enumerate(qids):
        lst = got.get(int(q), [])
        ids = [i for _, i, _ in lst]
        require(ids == [int(i) for i in exact_ids[pos]],
                f"exact query {q}: ids {ids} != brute force {list(exact_ids[pos])}")
        for (_, i, d), want in zip(lst, exact_d[pos]):
            require(_close(d, float(want)),
                    f"exact query {q}, id {i}: dist {d!r} != {float(want)!r}")
    require(len(got) == len(qids), "exact answer has queries that were not asked")


def check_same_answers(a, b, what: str) -> None:
    ka = sorted((int(r[0]), int(r[1]), int(r[2]), float(r[3])) for r in a)
    kb = sorted((int(r[0]), int(r[1]), int(r[2]), float(r[3])) for r in b)
    require(ka == kb, f"{what}: answers differ ({len(ka)} vs {len(kb)} rows)")


def check_self_hits(got: dict[int, list], qid_to_id: dict[int, int]) -> None:
    """Each vector queried as itself returns itself at rank 1, distance 0."""
    for q, want in qid_to_id.items():
        r, i, d = got[q][0]
        require(i == want and d == 0.0,
                f"self query {q}: rank 1 is id {i} at dist {d!r}, want id {want} at 0")


# -- text dedup -------------------------------------------------------------

def shingles(text: str, k: int = 3) -> frozenset[str]:
    toks = [t for t in TOKEN_SPLIT.split(text.lower()) if t]
    return frozenset(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def jaccard_pairs(sh: dict[int, frozenset], threshold: float) -> dict[tuple[int, int], float]:
    """Every pair with Jaccard >= threshold. Pairs sharing no shingle have
    Jaccard 0, so only pairs found through the shingle index are scored."""
    index: dict[str, list[int]] = defaultdict(list)
    for doc, s in sh.items():
        for g in s:
            index[g].append(doc)
    cands = set()
    for docs in index.values():
        docs = sorted(docs)
        for x in range(len(docs)):
            for y in range(x + 1, len(docs)):
                cands.add((docs[x], docs[y]))
    out = {}
    for a, b in cands:
        j = jaccard(sh[a], sh[b])
        if j >= threshold:
            out[(a, b)] = j
    return out


def exact_dup_pairs(texts: dict[int, str]) -> set[tuple[int, int]]:
    """Pairs of documents with identical shingle sets."""
    groups: dict[frozenset, list[int]] = defaultdict(list)
    for doc, t in texts.items():
        groups[shingles(t)].append(doc)
    out = set()
    for docs in groups.values():
        docs = sorted(docs)
        out |= {(docs[x], docs[y]) for x in range(len(docs)) for y in range(x + 1, len(docs))}
    return out


def check_minhash_pairs(rows, sh: dict[int, frozenset], threshold: float,
                        exact_pairs: set[tuple[int, int]]) -> set[tuple[int, int]]:
    """Reported (id_a, id_b, jaccard) rows: id_a < id_b, no repeats, the
    Jaccard recomputed from the raw text equals the reported one and is
    at or above the threshold, and every exact-duplicate pair is found."""
    found = set()
    for a, b, j in rows:
        a, b = int(a), int(b)
        require(a < b, f"pair ({a}, {b}) is not ordered id_a < id_b")
        require((a, b) not in found, f"pair ({a}, {b}) reported twice")
        found.add((a, b))
        want = jaccard(sh[a], sh[b])
        require(abs(float(j) - want) <= 1e-12,
                f"pair ({a}, {b}): jaccard {j!r} != recomputed {want!r}")
        require(want >= threshold, f"pair ({a}, {b}): jaccard {want} below {threshold}")
    missing = exact_pairs - found
    require(not missing, f"{len(missing)} exact-duplicate pairs missed, e.g. {sorted(missing)[:3]}")
    return found


def components(doc_ids, pairs) -> dict[int, int]:
    """Union-find: doc id -> minimum id of its connected component."""
    parent = {int(d): int(d) for d in doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in parent}


def check_clusters(rows, doc_ids, pairs) -> None:
    """(doc_id, cluster_id, keep) rows: one per document, cluster_id the
    component minimum, keep=1 exactly on the component minimum."""
    comp = components(doc_ids, pairs)
    seen = set()
    for d, c, keep in rows:
        d = int(d)
        require(d in comp and d not in seen, f"document {d} unknown or repeated")
        seen.add(d)
        require(int(c) == comp[d], f"document {d}: cluster {c} != component min {comp[d]}")
        require(int(keep) == int(d == comp[d]), f"document {d}: keep={keep} wrong")
    require(len(seen) == len(comp), f"{len(comp) - len(seen)} documents missing")
    n_keep = sum(int(r[2]) for r in rows)
    require(n_keep == len(set(comp.values())),
            f"keep count {n_keep} != component count {len(set(comp.values()))}")


# -- embedding dedup --------------------------------------------------------

def cosine_pairs(X: np.ndarray, ids: np.ndarray, threshold: float,
                 block: int = 1024) -> dict[tuple[int, int], float]:
    """Blocked brute-force scan: every pair with cosine distance below
    threshold, as {(id_a, id_b): cos} with id_a < id_b."""
    Xn = X.astype(np.float64)
    norms = np.linalg.norm(Xn, axis=1)
    out = {}
    for lo in range(0, len(Xn), block):
        C = 1.0 - (Xn[lo:lo + block] @ Xn.T) / np.outer(norms[lo:lo + block], norms)
        rows, cols = np.nonzero(C < threshold)
        for r, c in zip(rows, cols):
            a, b = int(ids[lo + r]), int(ids[c])
            if a < b:
                out[(a, b)] = float(C[r, c])
    return out


def check_cosine_pairs(rows, oracle: dict[tuple[int, int], float],
                       threshold: float, tol: float = 1e-9) -> None:
    """The reported pair set equals the brute force, ignoring pairs within
    ``tol`` of the threshold on either side; reported values match."""
    got = {}
    for a, b, c in rows:
        a, b = int(a), int(b)
        require(a < b, f"pair ({a}, {b}) is not ordered id_a < id_b")
        require((a, b) not in got, f"pair ({a}, {b}) reported twice")
        got[(a, b)] = float(c)

    def settled(pairs):
        return {p for p, c in pairs.items() if abs(c - threshold) > tol}

    missing = settled(oracle) - set(got)
    extra = settled(got) - set(oracle)
    require(not missing, f"{len(missing)} near-duplicate pairs missed, e.g. {sorted(missing)[:3]}")
    require(not extra, f"{len(extra)} pairs reported beyond the threshold, e.g. {sorted(extra)[:3]}")
    for p, c in got.items():
        if p in oracle:
            require(abs(c - oracle[p]) <= tol, f"pair {p}: cos {c!r} != {oracle[p]!r}")
