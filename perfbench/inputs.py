"""Seeded inputs for the two workloads. The same seed gives the same
inputs; the engine receives only what these functions return."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from cie_spark import spec

# kg corpus: conversations × average turns (about 103,000 turns and 64,000
# triples). Every 25th conversation is a 40× mega-conversation (generator
# default), which puts real skew into the co-occurrence step.
KG_CONVS = 2000
AVG_TURNS = 20
# the warm-up builds a small corpus of its own: a cold build costs about the
# same at any size, so a small one warms the session as well and leaves the
# run's time for the timed build
WARMUP_CONVS = 40

# kg: conversations edited per round
EDITS_PER_ROUND = 10

# near_dup corpus (sf0.1-like): doc count, vector count and dimension, and
# the planted shares
N_DOCS = 5000
N_VECS = 2000
VEC_DIM = 64
NEAR_DUP_SHARE = 0.10   # docs / vectors that are a perturbed copy of another
EXACT_DUP_SHARE = 0.02  # docs / vectors that are an exact copy of another
N_EMPTY_DOCS = 8
N_BOILERPLATE_DOCS = 12
BOILERPLATE = "Accept all cookies to continue reading this page and agree to our terms"

_SURFACES = [s for forms in spec.ENTITY_VOCAB.values() for s in forms]

# calls per round, by tool: point lookups dominate, then scans, then a small
# share of traversals. The composition is fixed so every round and every
# seed times the same mix; the seed picks the arguments and the order. The
# fast lookups are over half the calls, so the median is one of them; the
# two traversals sit above the 90th percentile.
CALL_MIX = [
    ("conv_summary", 5), ("find_entity", 5), ("entity_history", 5),
    ("find_callees", 2), ("call_graph", 2),
    ("grep", 1), ("list_tools", 1), ("index_status", 1),
    ("find_callers", 1), ("trace_path", 1),
]
CALLS_PER_ROUND = sum(n for _, n in CALL_MIX)


def edits(seed: int, rnd: int, n_convs: int) -> list[tuple[str, str]]:
    """(conv_id, new text for turn 1) for EDITS_PER_ROUND distinct
    conversations. The text names dictionary surfaces and a tool, so the
    reindex re-extracts, re-links and re-emits all three predicates."""
    r = random.Random(seed * 100_003 + rnd)
    out = []
    for cid in r.sample(range(n_convs), EDITS_PER_ROUND):
        a, b = r.sample(_SURFACES, 2)
        tool = r.choice(spec.TOOL_VOCAB)
        out.append((
            f"conv-{cid:06d}",
            f"round {rnd}: compare [[{a}]] with [[{b}]], calling tool <{tool}> next",
        ))
    return out


def call_requests(seed: int, rnd: int, n_convs: int) -> list[dict]:
    """One round of serve requests: CALL_MIX in a seeded order with seeded
    arguments."""
    r = random.Random(seed * 7_919 + rnd)
    tools = [t for t, n in CALL_MIX for _ in range(n)]
    r.shuffle(tools)
    canon = sorted(spec.ENTITY_VOCAB)
    reqs = []
    for i, tool in enumerate(tools):
        conv = f"conv-{r.randrange(n_convs):06d}"
        t = f"tool:{spec.norm(r.choice(spec.TOOL_VOCAB))}"
        args = {
            "conv_summary": {"conv_id": conv},
            "find_callees": {"agent_id": f"agent:{conv}"},
            "find_entity": {"name": r.choice(_SURFACES)},
            "call_graph": {"node_id": t},
            "entity_history": {"entity_id": f"ent:{r.choice(canon)}"},
            "grep": {"patterns": [r.choice(_SURFACES)], "limit": 20},
            "list_tools": {},
            "index_status": {},
            "find_callers": {"tool_id": t, "include_indirect": True},
            "trace_path": {"src": f"ent:{r.choice(canon)}",
                           "dst": f"ent:{r.choice(canon)}", "max_depth": 4},
        }[tool]
        reqs.append({"id": i, "tool": tool, "args": args})
    return reqs


def _words(r: np.random.Generator, vocab: np.ndarray, lo: int, hi: int) -> list[str]:
    return list(vocab[r.integers(0, len(vocab), r.integers(lo, hi + 1))])


def documents(seed: int, n: int = N_DOCS) -> pd.DataFrame:
    """(doc_id, text): n docs of 40-580 chars. Planted: near-dups
    (one word of a >= 40-word doc replaced, so 3-shingle Jaccard >= 0.85),
    exact dups, empty docs and a boilerplate cluster."""
    r = np.random.default_rng([seed, 1])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = np.array(sorted({
        "".join(r.choice(letters, r.integers(3, 9))) for _ in range(4000)
    }))
    n_near = int(n * NEAR_DUP_SHARE)
    n_exact = int(n * EXACT_DUP_SHARE)
    n_base = n - n_near - n_exact - N_EMPTY_DOCS - N_BOILERPLATE_DOCS
    texts = [" ".join(_words(r, vocab, 6, 70))[:580] for _ in range(n_base)]
    texts = [t if len(t) >= 40 else (t + " " + " ".join(_words(r, vocab, 8, 8)))[:580]
             for t in texts]
    long_ids = [i for i, t in enumerate(texts) if len(t.split()) >= 40]
    for _ in range(n_near):
        w = texts[long_ids[r.integers(len(long_ids))]].split()
        w[r.integers(3, len(w) - 3)] = str(vocab[r.integers(len(vocab))]) + "x"
        texts.append(" ".join(w))
    texts += [texts[i] for i in r.integers(0, n_base, n_exact)]
    texts += [""] * N_EMPTY_DOCS + [BOILERPLATE] * N_BOILERPLATE_DOCS
    order = r.permutation(len(texts))
    return pd.DataFrame({
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": [texts[i] for i in order],
    })


def vectors(seed: int, n: int = N_VECS) -> pd.DataFrame:
    """(vec_id, embedding float32[VEC_DIM]): n Gaussian vectors.
    Planted: near-dups with cosine ~0.96-0.995 to their source, exact dups."""
    r = np.random.default_rng([seed, 2])
    n_near = int(n * NEAR_DUP_SHARE)
    n_exact = int(n * EXACT_DUP_SHARE)
    n_base = n - n_near - n_exact
    base = r.standard_normal((n_base, VEC_DIM))
    src = r.integers(0, n_base, n_near)
    sigma = r.uniform(0.1, 0.3, (n_near, 1))
    near = base[src] + sigma * r.standard_normal((n_near, VEC_DIM))
    exact = base[r.integers(0, n_base, n_exact)]
    m = np.vstack([base, near, exact])[r.permutation(n)].astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(m),
    })
