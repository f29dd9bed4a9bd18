"""Seeded input generators. The program under test only ever sees what
these return; the same seed always gives the same inputs.

Vectors are float32, d=64, drawn from a Gaussian mixture: 32 centres with
N(0, 3^2) coordinates, each point a centre plus N(0, 1) noise. Documents
are 40 pseudo-words from a 4000-word vocabulary with planted exact and
near duplicates of original documents.
"""

from __future__ import annotations

import numpy as np

DIM = 64
N_CENTRES = 32
CENTRE_SCALE = 3.0

DOC_WORDS = 40
VOCAB_SIZE = 4000
EXACT_DUP_RATE = 0.05
NEAR_DUP_RATE = 0.25
MAX_NEAR_DUP_EDITS = 3

# workload tags keep each workload's random stream apart for one seed
WORKLOAD_TAGS = {"serving_mixed": 2, "dedup_pipeline": 3}


def rng_for(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), WORKLOAD_TAGS[workload]])


def centres(rng: np.random.Generator) -> np.ndarray:
    return rng.normal(0.0, CENTRE_SCALE, (N_CENTRES, DIM))


def mixture(rng: np.random.Generator, n: int, cs: np.ndarray) -> np.ndarray:
    picks = rng.integers(0, len(cs), n)
    return (cs[picks] + rng.standard_normal((n, DIM))).astype(np.float32)


def near_copies(rng: np.random.Generator, X: np.ndarray, rate: float,
                noise: float) -> np.ndarray:
    """Replace a ``rate`` share of rows by a slightly perturbed copy of an
    earlier row."""
    X = X.copy()
    for i in np.flatnonzero(rng.random(len(X)) < rate):
        if i > 0:
            X[i] = X[int(rng.integers(0, i))] + rng.normal(0.0, noise, X.shape[1]).astype(np.float32)
    return X


def vocabulary(rng: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, n)))
    return sorted(words)


def documents(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents of DOC_WORDS words. A share are exact copies of an
    earlier original document, a share near copies of one with
    1..MAX_NEAR_DUP_EDITS substituted words. Copies are made of originals
    only, so duplicate families are stars and their shape (and with it the
    number of connected-component rounds) does not drift with the seed.
    Capitals and punctuation vary so tokenization is exercised; exact
    copies keep the source text."""
    vocab = vocabulary(rng)
    words: list[list[str]] = []
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        u = rng.random()
        if originals and u < EXACT_DUP_RATE:
            j = originals[int(rng.integers(0, len(originals)))]
            words.append(list(words[j]))
            texts.append(texts[j])
            continue
        if originals and u < EXACT_DUP_RATE + NEAR_DUP_RATE:
            w = list(words[originals[int(rng.integers(0, len(originals)))]])
            edits = int(rng.integers(1, MAX_NEAR_DUP_EDITS + 1))
            for p in rng.choice(DOC_WORDS, edits, replace=False):
                w[int(p)] = vocab[int(rng.integers(0, VOCAB_SIZE))]
        else:
            w = [vocab[int(k)] for k in rng.integers(0, VOCAB_SIZE, DOC_WORDS)]
            originals.append(i)
        words.append(w)
        texts.append(_render(rng, w))
    return texts


def _render(rng: np.random.Generator, w: list[str]) -> str:
    out = []
    for k, word in enumerate(w):
        if k == 0 or rng.random() < 0.1:
            word = word.capitalize()
        out.append(word)
        out.append(". " if rng.random() < 0.08 else (", " if rng.random() < 0.1 else " "))
    return "".join(out).strip()
