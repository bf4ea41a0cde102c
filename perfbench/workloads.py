"""The two workloads. Each takes a `Run` (session, tracer, seed, run
length, work directory), sets up, warms up, times its operations against
the engine's public API and checks every output outside the timed region.

Each returns the raw timings its end-to-end metrics are computed from;
`run.py` turns them into the reported metrics.
"""

from __future__ import annotations

import io
import json
import math
import os
import statistics
import time

from pyspark.sql import functions as F

from cie_spark import oracle
from cie_spark.cli import serve_loop
from cie_spark.operators import dedup, simsearch
from cie_spark.operators.graph_queries import GraphQueries
from cie_spark.plans.pipeline import KGPipeline
from cie_spark.sources.gen import generate_transcripts
from cie_spark.sources.io_snapshots import SnapshotTable

from perfbench import inputs, twins

# bucket counts for the source table and the warehouse tables. With 16
# warehouse buckets an edit round of 10 conversations touches most of them,
# so each reindex's bucket-granular copy-on-write rewrites much of the
# tables the calls read. (The engine's default of 128 made a run's build
# 4 s longer, more than the run-time budget allows.)
SOURCE_BUCKETS = 8
WAREHOUSE_BUCKETS = 16

# minimum timed operations per run, whatever --seconds says
MIN_ROUNDS = 1
MIN_PASSES = 2

MINHASH_THRESHOLD = 0.8
COSINE_THRESHOLD = 0.9
SIMHASH_HAMMING = 3


class Run:
    def __init__(self, spark, tracer, seed: int, seconds: float, work: str):
        self.spark, self.tracer = spark, tracer
        self.seed, self.seconds, self.work = seed, seconds, work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.setup_s = 0.0
        self.timed_window = (0.0, 0.0)
        self.tables: dict[str, SnapshotTable] = {}
        self.pipeline_results: list[dict] = []

    def span(self, name: str, **kw):
        return self.tracer.span(name, **kw)

    def count(self, ok: bool, what: str) -> bool:
        """Count one operation or check; record it when it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    def keep_going(self, t_start: float, done: int, minimum: int) -> bool:
        return done < minimum or time.perf_counter() - t_start < self.seconds

    def use_tables(self, src: SnapshotTable, pipe: KGPipeline) -> None:
        self.tables = {"source": src, "triples": pipe.triples,
                       "entities": pipe.entities,
                       "processed_convs": pipe.processed}


# -- checks --------------------------------------------------------------

def _triple_set(rows) -> set:
    return {(r[0], r[1], r[2], r[3], int(r[4]), int(r[5])) for r in rows}


def check_against_oracle(run: Run, pipe: KGPipeline, src: SnapshotTable) -> float:
    """Committed triples vs `oracle.run` over the final corpus. Returns the
    share of oracle triples that were committed (recall)."""
    with run.span("check.oracle"):
        got = _triple_set(
            pipe.triples.read()
            .select("subj", "pred", "obj", "conv_id", "turn_idx", "weight")
            .collect()
        )
        want = _triple_set(
            oracle.run(src.read().toPandas())[
                ["subj", "pred", "obj", "conv_id", "turn_idx", "weight"]
            ].itertuples(index=False)
        )
    run.count(got == want,
              f"triples differ from oracle: {len(got - want)} extra, "
              f"{len(want - got)} missing of {len(want)}")
    return len(got & want) / len(want) if want else 1.0


# -- kg ---------------------------------------------------------------------

def land_corpus(run: Run, name: str, n_convs: int) -> SnapshotTable:
    src = SnapshotTable(run.spark, f"{run.work}/{name}", bucket_key="conv_id",
                        n_buckets=SOURCE_BUCKETS)
    with run.span("setup.land"):
        src.overwrite(generate_transcripts(
            run.spark, n_convs=n_convs, avg_turns=inputs.AVG_TURNS,
            seed=run.seed))
    return src


def _apply_edits(run: Run, src: SnapshotTable, rnd: int) -> None:
    """Upsert: rewrite turn 1 of each edited conversation and insert one new
    turn. Untimed ingestion."""
    edits = inputs.edits(run.seed, rnd, inputs.KG_CONVS)
    ids = [c for c, _ in edits]
    text = F.create_map(*[F.lit(x) for pair in edits for x in pair])
    turn1 = src.read_keys(ids).filter(F.col("turn_idx") == 1)
    updated = turn1.withColumn("text", text[F.col("conv_id")])
    inserted = turn1.withColumn("turn_idx", F.lit(10_000 + rnd)).withColumn(
        "text", F.concat(F.lit("follow-up: "), text[F.col("conv_id")]))
    with run.span("ingest.edit"):
        src.merge(updated.unionByName(inserted), keys=["conv_id", "turn_idx"])


def _open_queries(run: Run, pipe: KGPipeline, src: SnapshotTable) -> GraphQueries:
    """The tool server's view of the warehouse (what `cli serve` builds at
    start-up), re-opened after each reindex so calls see the new snapshot."""
    with run.span("query.open"):
        return GraphQueries(pipe.triples.read(), pipe.entities.read(), src.read())


def _serve(run: Run, gq: GraphQueries, req: dict, op: int | None) -> float:
    """One request through the JSON-lines tool server; returns its latency.
    A response with "ok": false counts as a failed operation."""
    out = io.StringIO()
    t = time.perf_counter()
    with run.span("op.serve", op=op, tool=req["tool"]) as s:
        serve_loop(gq, [json.dumps(req)], out)
    dt = time.perf_counter() - t
    resp = json.loads(out.getvalue())
    if s is not None:
        s.attrs["rows"] = len(resp.get("rows") or resp.get("result") or [])
    if op is not None:
        run.count(resp.get("ok") is True,
                  f"{req['tool']} {req['args']}: {resp.get('error')}")
    return dt


def kg(run: Run) -> dict:
    """Full build of a generated corpus into an empty warehouse, then rounds
    of edit -> incremental reindex -> closed-loop burst of tool calls (one
    client, one request at a time) on that warehouse."""
    t0 = time.perf_counter()
    # warm-up on a small corpus and a throwaway warehouse: a full build and
    # one call of every tool but find_callers (31 jobs, ~3 s; its first call
    # runs about 20% slower, which moves no end-to-end metric). The build
    # also warms the reindex: both take the small-delta tier.
    with run.span("setup.warmup"):
        warm_src = land_corpus(run, "warmup_source", inputs.WARMUP_CONVS)
        warm = KGPipeline(run.spark, f"{run.work}/warmup", n_buckets=WAREHOUSE_BUCKETS)
        warm.run_from_table(warm_src)
        gq = _open_queries(run, warm, warm_src)
        first = {}
        for req in inputs.call_requests(run.seed, -1, inputs.WARMUP_CONVS):
            if req["tool"] != "find_callers":
                first.setdefault(req["tool"], req)
        for req in first.values():
            _serve(run, gq, req, None)
    src = land_corpus(run, "source", inputs.KG_CONVS)
    run.setup_s = time.perf_counter() - t0

    t_start = time.perf_counter()
    pipe = KGPipeline(run.spark, f"{run.work}/wh", n_buckets=WAREHOUSE_BUCKETS)
    t = time.perf_counter()
    with run.span("op.build", op=run.tracer.new_op()):
        built = pipe.run_from_table(src)
    build_s = time.perf_counter() - t
    run.count(built["triples"] > 0 and not built.get("skipped"),
              f"build committed nothing: {built}")
    results = [built]

    reindex_s, call_s = [], []
    while run.keep_going(t_start, len(reindex_s), MIN_ROUNDS):
        rnd = len(reindex_s)
        _apply_edits(run, src, rnd)
        op = run.tracer.new_op()
        t = time.perf_counter()
        with run.span("op.reindex", op=op):
            out = pipe.run_from_table(src)
        reindex_s.append(time.perf_counter() - t)
        results.append(out)
        run.count(not out.get("skipped") and out["rows_in"] > 0,
                  f"reindex round {rnd} indexed nothing: {out}")
        gq = _open_queries(run, pipe, src)
        for req in inputs.call_requests(run.seed, rnd, inputs.KG_CONVS):
            call_s.append(_serve(run, gq, req, op))
    run.timed_window = (t_start, time.perf_counter())

    recall = check_against_oracle(run, pipe, src)
    run.pipeline_results = results
    run.replay_full = src.read()
    run.use_tables(src, pipe)
    return {
        "samples": {"build_s": [build_s], "reindex_s": reindex_s, "call_s": call_s},
        "throughput": built["triples"] / build_s,
        "step_s": statistics.median(reindex_s),
        "call_s": call_s,
        "recall": recall,
        "named": {
            "build_triples_per_s": (built["triples"] / build_s, "triples/s"),
            "reindex_p50_s": (statistics.median(reindex_s), "s"),
            "query_p50_ms": (1e3 * statistics.median(call_s), "ms"),
            "query_p90_ms": (1e3 * quantile(call_s, 0.9), "ms"),
            "triple_recall": (recall, "ratio"),
        },
    }


def quantile(vals: list[float], q: float) -> float:
    """Nearest-rank quantile: the smallest sample with at least a share q
    of the samples at or below it."""
    s = sorted(vals)
    return s[max(0, math.ceil(q * len(s)) - 1)]


# -- near_dup -------------------------------------------------------------

def pair_set(rows) -> set:
    return {(int(r[0]), int(r[1])) for r in rows}


def _land_parquet(df, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))


def near_dup(run: Run) -> dict:
    """MinHash, simhash and cosine near-duplicate search over a corpus with
    planted duplicates."""
    spark = run.spark
    t0 = time.perf_counter()
    with run.span("setup.land"):
        docs_pd, vecs_pd = inputs.documents(run.seed), inputs.vectors(run.seed)
        _land_parquet(docs_pd, f"{run.work}/docs")
        _land_parquet(vecs_pd, f"{run.work}/vecs")
        docs = spark.read.parquet(f"{run.work}/docs")
        vecs = spark.read.parquet(f"{run.work}/vecs")

    def one_pass(op):
        out = {}
        for name, fn in (
            ("minhash", lambda: dedup.ngram_jaccard_pairs(docs, threshold=MINHASH_THRESHOLD)),
            ("simhash", lambda: dedup.simhash_pairs(docs, max_hamming=SIMHASH_HAMMING)),
            ("cosine", lambda: simsearch.cosine_near_dup_pairs(
                vecs, threshold=COSINE_THRESHOLD)),
        ):
            t = time.perf_counter()
            with run.span(f"op.{name}", op=op):
                rows = fn().collect()
            out[name] = (time.perf_counter() - t, pair_set(rows))
            if op is not None:
                run.count(True, f"{name} call")
        return out

    with run.span("setup.warmup"):
        one_pass(None)
    run.setup_s = time.perf_counter() - t0

    passes = []
    t_start = time.perf_counter()
    while run.keep_going(t_start, len(passes), MIN_PASSES):
        passes.append(one_pass(run.tracer.new_op()))
    run.timed_window = (t_start, time.perf_counter())

    # checks: every reported pair is in the exact set, every pass returns
    # the same set; the exact sets also give recall
    with run.span("check.exact"):
        sh = docs.select("doc_id", dedup.simhash_col(F.col("text"))).collect()
        exact = {
            "minhash": twins.jaccard_pairs(docs_pd["doc_id"], docs_pd["text"],
                                           MINHASH_THRESHOLD),
            "simhash": twins.hamming_pairs([r[0] for r in sh], [r[1] for r in sh],
                                           SIMHASH_HAMMING),
            "cosine": twins.cosine_pairs(vecs_pd["vec_id"], list(vecs_pd["embedding"]),
                                         COSINE_THRESHOLD),
        }
    recall = {}
    for name, want in exact.items():
        got = passes[0][name][1]
        run.count(got <= want, f"{name}: {len(got - want)} pairs not in the exact set")
        run.count(all(p[name][1] == got for p in passes), f"{name}: passes disagree")
        recall[name] = len(got & want) / len(want) if want else 1.0
    run.docs, run.vecs = docs, vecs

    pass_s = [sum(w for w, _ in p.values()) for p in passes]
    rows = 2 * inputs.N_DOCS + inputs.N_VECS
    med = {name: statistics.median(p[name][0] for p in passes) for name in passes[0]}
    return {
        "samples": {name: [p[name][0] for p in passes] for name in passes[0]},
        "throughput": statistics.median(rows / s for s in pass_s),
        "step_s": statistics.median(pass_s),
        "call_s": [w for p in passes for w, _ in p.values()],
        "recall": statistics.mean(recall.values()),
        "named": {
            "minhash_docs_per_s": (inputs.N_DOCS / med["minhash"], "rows/s"),
            "simhash_docs_per_s": (inputs.N_DOCS / med["simhash"], "rows/s"),
            "cosine_vecs_per_s": (inputs.N_VECS / med["cosine"], "rows/s"),
            "minhash_recall": (recall["minhash"], "ratio"),
            "simhash_recall": (recall["simhash"], "ratio"),
            "cosine_recall": (recall["cosine"], "ratio"),
        },
    }


WORKLOADS = {"kg": kg, "near_dup": near_dup}
