"""The benchmark's exact near-dup sets equal the engine's exact twins, and
the seeded inputs are deterministic with their planted duplicates."""

from __future__ import annotations

from pyspark.sql import functions as F

from cie_spark.operators import dedup, simsearch
from perfbench import inputs, twins


def test_inputs_are_seeded():
    a, b = inputs.documents(3, 300), inputs.documents(3, 300)
    assert a.equals(b)
    assert not a.equals(inputs.documents(4, 300))
    assert inputs.edits(3, 0, 160) == inputs.edits(3, 0, 160)
    assert inputs.call_requests(3, 0, 160) == inputs.call_requests(3, 0, 160)
    assert len(inputs.call_requests(3, 0, 160)) == inputs.CALLS_PER_ROUND
    texts = list(a["text"])
    assert texts.count("") == inputs.N_EMPTY_DOCS
    assert texts.count(inputs.BOILERPLATE) == inputs.N_BOILERPLATE_DOCS
    assert all(len(t) <= 580 for t in texts)


def test_twins_match_engine_exact_operators(spark):
    docs_pd = inputs.documents(5, 400)
    vecs_pd = inputs.vectors(5, 300)
    docs = spark.createDataFrame(docs_pd)
    vecs = spark.createDataFrame(vecs_pd, "vec_id long, embedding array<float>")

    want = {(r[0], r[1]) for r in dedup.jaccard_pairs_exact(docs, threshold=0.8).collect()}
    got = twins.jaccard_pairs(docs_pd["doc_id"], docs_pd["text"], 0.8)
    assert got == want and len(want) > 20

    want = {(r[0], r[1]) for r in simsearch.cosine_near_dup_exact(vecs, threshold=0.9).collect()}
    got = twins.cosine_pairs(vecs_pd["vec_id"], list(vecs_pd["embedding"]), 0.9)
    assert got == want and len(want) > 20

    sh = docs.select("doc_id", dedup.simhash_col(F.col("text"))).collect()
    got = twins.hamming_pairs([r[0] for r in sh], [r[1] for r in sh], 3)
    want = {(r[0], r[1]) for r in dedup.simhash_pairs(docs, max_hamming=3).collect()}
    assert got == want and len(want) > 20
