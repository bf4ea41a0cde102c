"""Exact near-duplicate pair sets computed in the benchmark process, used
to check the engine's LSH operators and to measure their recall.

The engine's own exact twins (`dedup.jaccard_pairs_exact`,
`simsearch.cosine_near_dup_exact`) are all-pairs Spark joins; on the
near_dup corpus they take tens of seconds per run. These twins give the
same pair sets in about a second, and perfbench/tests/test_twins.py pins
them to the engine's twins on a seeded corpus.
"""

from __future__ import annotations

import re

import numpy as np


def _words(text: str | None) -> list[str]:
    """The engine's tokenization (dedup._words_col): lower-case, trim
    spaces, collapse whitespace runs, split on a space. Equal to the JVM
    result for ASCII text, which is what the generated corpus holds."""
    t = (text or "").lower().strip(" ")
    return re.sub(r"\s+", " ", t).split(" ")


def shingles(text: str | None, k: int = 3) -> frozenset[str]:
    """Distinct k-word shingles; a doc shorter than k words is one shingle
    of all its words (dedup._word_shingles)."""
    w = _words(text)
    if len(w) < k:
        return frozenset([" ".join(w)])
    return frozenset(" ".join(w[i:i + k]) for i in range(len(w) - k + 1))


def jaccard_pairs(ids, texts, threshold: float, k: int = 3) -> set[tuple[int, int]]:
    """(a, b), a < b, with k-word-shingle Jaccard >= threshold. Candidates
    come from an inverted shingle index, which is complete for any
    threshold > 0."""
    sets = [shingles(t, k) for t in texts]
    index: dict[str, list[int]] = {}
    for i, s in enumerate(sets):
        for sh in s:
            index.setdefault(sh, []).append(i)
    cands = set()
    for posting in index.values():
        for x in range(len(posting)):
            for y in range(x + 1, len(posting)):
                cands.add((posting[x], posting[y]))
    out = set()
    for i, j in cands:
        inter = len(sets[i] & sets[j])
        union = len(sets[i]) + len(sets[j]) - inter
        if union and inter / union >= threshold:
            a, b = int(ids[i]), int(ids[j])
            out.add((min(a, b), max(a, b)))
    return out


def cosine_pairs(ids, vecs, threshold: float) -> set[tuple[int, int]]:
    """(a, b), a < b, with cosine similarity >= threshold, all pairs."""
    m = np.asarray(vecs, dtype=np.float64)
    n = np.linalg.norm(m, axis=1)
    unit = m / np.where(n > 0, n, 1.0)[:, None]
    sims = unit @ unit.T
    ii, jj = np.nonzero(np.triu(sims >= threshold, k=1))
    ids = np.asarray(ids)
    return {(min(int(ids[i]), int(ids[j])), max(int(ids[i]), int(ids[j])))
            for i, j in zip(ii, jj)}


def hamming_pairs(ids, sigs, max_hamming: int) -> set[tuple[int, int]]:
    """(a, b), a < b, whose 64-bit signatures differ in <= max_hamming
    bits, over every pair."""
    ids = np.asarray(ids, dtype=np.int64)
    sh = np.asarray(sigs, dtype=np.int64).view(np.uint64)
    out = set()
    for i in range(len(ids) - 1):
        x = (sh[i] ^ sh[i + 1:]).view(np.uint8).reshape(-1, 8)
        near = np.nonzero(np.unpackbits(x, axis=1).sum(axis=1) <= max_hamming)[0]
        for j in near:
            a, b = int(ids[i]), int(ids[i + 1 + j])
            out.add((min(a, b), max(a, b)))
    return out
