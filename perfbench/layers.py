"""Per-layer metrics for the traced run.

Two sources, both recorded from the benchmark's own files:

- **Wrapped eager entry points.** While tracing, `instrument()` wraps the
  engine's eager public calls in spans: the `SnapshotTable` read/write
  methods, `KGPipeline.run_from_table` and `run`, and
  `link.link_surfaces_rows`. The wrappers are installed on the classes and
  modules for the duration of the run and removed afterwards; no code inside
  `cie_spark/` changes. Spans opened from the pipeline's commit threads
  overlap their siblings.
- **Boundary-forced replays** of the lazy operators, after the timed region
  and on the same input: each layer's output is cached and counted before the
  next layer starts. A replay shows what each layer costs on its own; it is
  not the fused plan the pipeline runs.

Every metric is reported on every workload; a workload that bypasses a layer
reports 0 for it. Time and job metrics are per timed operation: per build,
per reindex round, per re-open of the tool server's view, per near-dup pass.
"""

from __future__ import annotations

import functools
import inspect
import os
import statistics
import threading
from contextlib import contextmanager

from pyspark.sql import functions as F

from cie_spark.operators import dedup, extract, link, simsearch, triples, validate
from cie_spark.plans import pipeline as pipeline_mod
from cie_spark.plans.pipeline import KGPipeline
from cie_spark.sources.io_snapshots import SnapshotTable

from perfbench import inputs
from perfbench.workloads import pair_set

SNAPSHOT_METHODS = ("merge", "overwrite", "append", "read", "read_keys",
                    "diff_filesets")
TABLES = ("source", "triples", "entities", "processed_convs")
TOOLS = [t for t, _ in inputs.CALL_MIX]


def _defaults(fn, *names):
    params = inspect.signature(fn).parameters
    return tuple(params[n].default for n in names)


# the operators' own defaults, read from their signatures so the replay
# bands the way the operator does
(MINHASH_CAP,) = _defaults(dedup.minhash_candidates, "max_bucket")
COSINE_PLANES, COSINE_BANDS, COSINE_SEED, COSINE_CAP = _defaults(
    simsearch.cosine_near_dup_pairs, "n_planes", "bands", "seed", "max_bucket")
(SIMHASH_BANDS,) = _defaults(dedup.simhash_pairs, "bands")
# ngram_jaccard_pairs picks its band rows in its body (4 at threshold >= 0.7),
# not from a default; the replay checks that every pair the operator reports
# is among the candidates these rows give
MINHASH_ROWS = 4


def _wrap(tracer, name, fn, on_exit=None):
    @functools.wraps(fn)
    def wrapper(*args, **kw):
        with tracer.span(name) as s:
            out = fn(*args, **kw)
            if on_exit is not None and s is not None:
                on_exit(s, args, out)
            return out
    return wrapper


def _table_name(tbl) -> str:
    return os.path.basename(tbl.root.rstrip("/"))


def _merge_summary(s, args, out):
    tbl = args[0]
    s.attrs["table"] = _table_name(tbl)
    snap = tbl.current_snapshot()
    if snap is not None and snap["snapshot_id"] == out:
        s.attrs["buckets_rewritten"] = snap["summary"].get("rewritten_buckets", 0)


def _tag_table(s, args, out):
    s.attrs["table"] = _table_name(args[0])


@contextmanager
def instrument(tracer):
    """Wrap the eager entry points in spans for the duration of the block."""
    saved = []

    def patch(owner, attr, name, on_exit=None):
        fn = getattr(owner, attr)
        saved.append((owner, attr, fn))
        setattr(owner, attr, _wrap(tracer, name, fn, on_exit))

    for m in SNAPSHOT_METHODS:
        patch(SnapshotTable, m, f"io_snapshots.{m}",
              _merge_summary if m == "merge" else _tag_table)
    patch(KGPipeline, "run_from_table", "pipeline.run_from_table")
    patch(KGPipeline, "run", "pipeline.run")
    patch(link, "link_surfaces_rows", "link.link_surfaces_rows")
    try:
        yield
    finally:
        for owner, attr, fn in reversed(saved):
            setattr(owner, attr, fn)


# -- session ----------------------------------------------------------------

class RssSampler:
    """Peak resident memory of the JVM and its Python workers, sampled from
    /proc every `interval` seconds on a daemon thread."""

    def __init__(self, jvm_pid: int, interval: float = 0.5):
        self.pid, self.interval = jvm_pid, interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self):
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb

    def _tree_rss_mb(self) -> float:
        parents = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {self.pid}, [self.pid]
        while frontier:
            p = frontier.pop()
            for c, pp in parents.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
            except (OSError, IndexError, ValueError):
                pass
        return total / 2**20

    def _loop(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self._tree_rss_mb())
            self._stop.wait(self.interval)


# -- replays ----------------------------------------------------------------

def _timed_count(tracer, name, make):
    """Build a stage's frame (some operators run jobs while building it),
    cache and count it, all inside one span."""
    with tracer.span(name):
        df = make().cache()
        n = df.count()
    return df, n


def replay_kg(run) -> dict:
    """extract -> link -> triples(+validate), forced at each boundary."""
    tr, spark, src = run.tracer, run.spark, run.replay_full
    m, n_m = _timed_count(tr, "replay.extract", lambda: extract.extract_mentions(src))
    linked, _ = _timed_count(tr, "replay.link", lambda: link.link_mentions(spark, m))
    with tr.span("replay.counts"):
        tiers = {r[0]: r[1] for r in linked.filter(F.col("kind") == "entity")
                 .groupBy("link_tier").count().collect()}
        n_surf = (m.filter(F.col("kind") == "entity").select("surface")
                  .distinct().count())
    t, n_t = _timed_count(tr, "replay.triples", lambda: validate.validate_triples(
        triples.all_triples(linked, src))[0])
    for df in (t, linked, m):
        df.unpersist()
    n_ent = sum(tiers.values()) or 1
    out = {
        "extract.mentions": n_m,
        "link.distinct_surfaces": n_surf,
        "triples.rows": n_t,
    }
    for tier in ("dict", "fuzzy", "stub"):
        out[f"link.tier_share.{tier}"] = tiers.get(tier, 0) / n_ent
    return out


def replay_near_dup(run) -> dict:
    """Each operator's public stages, each cached and counted: minhash
    signatures, then candidates, then the full operator, each reading the
    previous stage from the cache; the simhash signature column, then the
    full simhash operator; cosine only as a whole. Candidate sets for
    simhash and cosine come from the public signature (simhash_col,
    make_planes) banded the way each operator documents it. Every pair an
    operator reports must be among its replay candidates; a miss means the
    replay no longer bands like the operator and counts as a failed check."""
    tr, docs, vecs = run.tracer, run.docs, run.vecs
    sig, _ = _timed_count(tr, "replay.minhash.signatures",
                          lambda: dedup.minhash_signatures(docs, rows=MINHASH_ROWS))
    cands, _ = _timed_count(tr, "replay.minhash.candidates",
                            lambda: dedup.minhash_candidates(docs, rows=MINHASH_ROWS))
    full, _ = _timed_count(tr, "replay.minhash.full",
                           lambda: dedup.ngram_jaccard_pairs(docs, threshold=0.8))
    sh, _ = _timed_count(tr, "replay.simhash.signatures", lambda: docs.select(
        "doc_id", dedup.simhash_col(F.col("text")).alias("sh")))
    sh_pairs, _ = _timed_count(tr, "replay.simhash.full",
                               lambda: dedup.simhash_pairs(docs))
    cos, _ = _timed_count(tr, "replay.cosine.full",
                          lambda: simsearch.cosine_near_dup_pairs(vecs, threshold=0.9))
    with tr.span("replay.counts"):
        over = (sig.groupBy("band_idx", "band_sig").count()
                .filter(F.col("count") > MINHASH_CAP).count())
        bands = sh.select("doc_id", F.posexplode(F.array(*[
            F.shiftright("sh", 16 * b).bitwiseAND(F.lit(0xFFFF))
            for b in range(SIMHASH_BANDS)
        ])).alias("band", "val"))
        a, b = bands.alias("a"), bands.alias("b")
        sh_cands = pair_set(a.join(b, ["band", "val"])
                             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
                             .select("a.doc_id", "b.doc_id").distinct().collect())
        cos_cands, cos_over = _cosine_candidates(vecs)
        found = {
            "minhash": (pair_set(cands.collect()), pair_set(full.collect()), over),
            "simhash": (sh_cands, pair_set(sh_pairs.collect()), None),
            "cosine": (cos_cands, pair_set(cos.collect()), cos_over),
        }
    for df in (sig, cands, full, sh, sh_pairs, cos):
        df.unpersist()
    out = {}
    for op, (cand, ver, n_over) in found.items():
        run.count(ver <= cand, f"replay {op}: {len(ver - cand)} reported pairs "
                               "outside the replay's candidates")
        out.update({
            f"{op}.candidate_pairs": len(cand), f"{op}.verified_pairs": len(ver),
            f"{op}.verify_yield": len(ver) / len(cand) if cand else 0.0,
        })
        # simhash_pairs has no bucket cap: it drops nothing
        if n_over is not None:
            out[f"{op}.buckets_over_cap"] = n_over
    return out


def _cosine_candidates(vecs) -> tuple[set, int]:
    import numpy as np

    rows = vecs.select("vec_id", "embedding").collect()
    ids = [int(r[0]) for r in rows]
    M = np.array([r[1] for r in rows], dtype=np.float64)
    P = np.asarray(simsearch.make_planes(M.shape[1], COSINE_PLANES, COSINE_SEED)).T
    bits = (M @ P >= 0)
    width = COSINE_PLANES // COSINE_BANDS
    weights = 1 << np.arange(width)
    cands, over = set(), 0
    for b in range(COSINE_BANDS):
        keys = bits[:, b * width:(b + 1) * width] @ weights
        buckets: dict[int, list[int]] = {}
        for i, k in enumerate(keys.tolist()):
            buckets.setdefault(k, []).append(i)
        for members in buckets.values():
            if len(members) > COSINE_CAP:
                over += 1
            elif len(members) > 1:
                cands.update((min(ids[x], ids[y]), max(ids[x], ids[y]))
                             for i, x in enumerate(members) for y in members[i + 1:])
    return cands, over


# -- assembly ---------------------------------------------------------------

def _live_files(tbl: SnapshotTable | None) -> int:
    snap = tbl.current_snapshot() if tbl is not None else None
    if snap is None:
        return 0
    units = [p for ps in snap.get("buckets", {}).values() for p in ps] or snap["filesets"]
    n = 0
    for u in units:
        for _, _, files in os.walk(os.path.join(tbl.root, "data", u)):
            n += sum(f.endswith(".parquet") for f in files)
    return n


# top-level span -> phase. A query phase is one re-open of the tool server's
# view after a reindex; it only reads.
PHASES = {"op.build": "build", "op.reindex": "reindex", "query.open": "query"}
WRITE_PHASES = ("build", "reindex")


def metrics(run, replay: dict, peak_rss_mb: float, jobs: dict) -> dict[str, float]:
    """Every per-layer metric, from the spans and the replay counts.
    io_snapshots and pipeline figures are per timed operation of a phase:
    per build, per reindex round and per re-open of the tool server's view."""
    tr = run.tracer
    kids = tr.children()
    by_sid = {s.sid: s for s in tr.spans}

    def phase(s):
        while s.parent is not None:
            s = by_sid[s.parent]
        return PHASES.get(s.name)

    def span_s(name):
        return float(sum(s.dur for s in tr.by_name(name)))

    def median_ms(spans):
        return 1e3 * statistics.median(s.dur for s in spans) if spans else 0.0

    m: dict[str, float] = {
        "session.start_s": span_s("setup.session"),
        "session.warmup_s": span_s("setup.warmup"),
        "session.peak_rss_mb": peak_rss_mb,
    }
    for ph in PHASES.values():
        n_ops = len([s for s in tr.spans
                     if s.parent is None and PHASES.get(s.name) == ph])

        def per_op(vals):
            return float(sum(vals)) / n_ops if n_ops else 0.0

        def spans(*names):
            return [s for s in tr.spans if s.name in names and phase(s) == ph]

        # outermost reads only: read_keys calls read
        m[f"io_snapshots.read_s.{ph}"] = per_op(
            s.dur for s in spans("io_snapshots.read", "io_snapshots.read_keys",
                                 "io_snapshots.diff_filesets")
            if not by_sid[s.parent].name.startswith("io_snapshots."))
        if ph not in WRITE_PHASES:
            continue
        merges = spans("io_snapshots.merge")
        m[f"io_snapshots.merge_s.{ph}"] = per_op(s.dur for s in merges)
        m[f"io_snapshots.merge_jobs.{ph}"] = per_op(len(s.jobs) for s in merges)
        m[f"io_snapshots.buckets_rewritten.{ph}"] = per_op(
            s.attrs.get("buckets_rewritten", 0) for s in merges)
        runs = spans("pipeline.run_from_table")
        m[f"pipeline.self_s.{ph}"] = per_op(
            tr.self_time(s, kids) for s in runs + spans("pipeline.run"))
        m[f"pipeline.jobs.{ph}"] = per_op(tr.subtree_jobs(s, kids) for s in runs)
    for t in TABLES:
        m[f"io_snapshots.live_files.{t}"] = float(_live_files(run.tables.get(t)))
    # tier, inferred from each run's changed conversations and rows_in
    # against the public small-delta caps
    res = run.pipeline_results
    for ph, runs, convs in (("build", res[:1], inputs.KG_CONVS),
                            ("reindex", res[1:], inputs.EDITS_PER_ROUND)):
        small = [r for r in runs if convs <= pipeline_mod.SMALL_DELTA_CONVS
                 and 0 < r.get("rows_in", 0) <= pipeline_mod.SMALL_DELTA_ROWS]
        m[f"pipeline.small_delta.{ph}"] = len(small) / len(runs) if runs else 0.0

    for layer in ("extract", "link", "triples"):
        m[f"{layer}.s"] = span_s(f"replay.{layer}")
    m["link.jobs"] = float(sum(len(s.jobs) for s in tr.by_name("replay.link")))
    for k in ("extract.mentions", "link.distinct_surfaces", "link.tier_share.dict",
              "link.tier_share.fuzzy", "link.tier_share.stub", "triples.rows"):
        m[k] = float(replay.get(k, 0))

    serves = [s for s in tr.by_name("op.serve") if s.op is not None]
    for tool in TOOLS:
        m[f"graph_queries.{tool}_ms"] = median_ms(
            [s for s in serves if s.attrs.get("tool") == tool])
    m["graph_queries.jobs_per_call"] = (
        sum(tr.subtree_jobs(s, kids) for s in serves) / len(serves) if serves else 0.0)
    m["graph_queries.rows"] = (
        sum(s.attrs.get("rows", 0) for s in serves) / len(serves) if serves else 0.0)

    for op in ("minhash", "simhash", "cosine"):
        m[f"{op}.s"] = median_ms([s for s in tr.by_name(f"op.{op}") if s.op is not None]) / 1e3
    # each minhash stage reads the previous stage's cached output (Spark's
    # cache manager matches the identical sub-plan), so each span is one stage
    m["minhash.signatures_s"] = span_s("replay.minhash.signatures")
    m["minhash.candidates_s"] = span_s("replay.minhash.candidates")
    m["minhash.verify_s"] = span_s("replay.minhash.full")
    m["simhash.signatures_s"] = span_s("replay.simhash.signatures")
    for op in ("minhash", "simhash", "cosine"):
        for k in ("candidate_pairs", "verified_pairs", "verify_yield"):
            m[f"{op}.{k}"] = float(replay.get(f"{op}.{k}", 0))
    for op in ("minhash", "cosine"):
        m[f"{op}.buckets_over_cap"] = float(replay.get(f"{op}.buckets_over_cap", 0))

    m["trace.jobs_total"] = float(jobs["jobs_total"])
    m["trace.jobs_unattributed"] = float(jobs["jobs_unattributed"])
    lo, hi = run.timed_window
    covered = sum(s.dur for s in tr.spans
                  if s.parent is None and s.t0 >= lo and s.t1 <= hi)
    m["trace.timed_cover_share"] = covered / (hi - lo)
    return m
