"""Deduplication operators for large-scale corpora.

Four families (BASELINE.json north star: first-class pipeline components):

* exact            — normalize → hash → hash-partitioned groupBy. One shuffle.
* n-gram Jaccard   — exact pairwise similarity via a shingle equi-join
                     (inverted index), never a cross join.
* MinHash + LSH    — shingle → K minhashes → band → bucket groups; candidate
                     pairs optionally verified with exact Jaccard. The 100 TB
                     path: cost is O(docs × shingles) + in-bucket pairs, and
                     every stage is a hash shuffle on a well-distributed key.
* SimHash          — 64-bit sign-random-projection fingerprint; Hamming-ball
                     candidate retrieval via 16-bit chunk banding.

Shingle hashes are xxhash64 (JVM-side, seeded) by default, or an
engine-portable 60-bit md5 hash (``hash_fn="md5"``, the oracle-checked
mode); both are deterministic. MinHash/SimHash signatures run as Arrow
pandas_udf kernels (operators/_arrow_kernels.py); in md5 mode one fused
kernel builds the shingles, hashes them and takes the minima.

The pairwise operators have two plan shapes, each built by one function:
MinHash and SimHash candidates come from :func:`_bucket_pairs` (one
groupBy on the bucket key, streamed in-task pair expansion, the optional
``max_bucket`` valve); n-gram Jaccard, containment and winnowing
(text.py) score the inverted-index self-join of :func:`_overlap_counts`.
:func:`_drop_hot_keys` is their one hot-key cut. Exact dedup stays a JVM
built-in.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ffn_polars_spark.operators._scanmeta import spread_scan
from ffn_polars_spark.pins import (
    _token_scale_est,
    pin,
    pin_checkpoint,
    release_checkpoint,
)
from ffn_polars_spark.registry import register


# Mersenne prime 2^31 - 1: (a*h + b) mod P stays within long range for
# a, b, h < P (product < 2^62) — the classic universal-hash family for
# minhash permutations.
_MERSENNE = (1 << 31) - 1

# Base 64-bit hash engines for shingle/band hashing.
#
# * "xxhash64" (default): Spark's JVM-native seeded hash — fastest, but no
#   other engine implements the same function, so results are only
#   verifiable against another Spark run.
# * "md5": engine-portable 60-bit hash — the low 15 hex chars of md5,
#   parsed as an integer. Bit-identical in any engine with md5 + hex
#   parsing (DuckDB: ``('0x' || substr(md5(s), 18, 15))::BIGINT``; Python:
#   ``int(md5(s).hexdigest()[17:32], 16)``), which is what lets the DuckDB
#   correctness oracle hash-match the full MinHash/SimHash pipelines.
#   ~2.8x slower per hash than xxhash64 (still JVM codegen, measured 0.9s
#   vs 0.3s per 5M hashes) and 60 uniform bits instead of 64 — identical
#   collision behavior for dedup purposes.


def _hash64(col: Column, hash_fn: str) -> Column:
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    if hash_fn == "md5":
        return F.conv(F.substring(F.md5(col), 18, 15), 16, 10).cast("long")
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5'; got {hash_fn!r}")


def _hash64_multi(cols: list, hash_fn: str) -> Column:
    """64-bit hash of several integer columns (band hashing)."""
    if hash_fn == "xxhash64":
        return F.xxhash64(*cols)
    # portable: hash the '|'-joined decimal rendering (identical in SQL via
    # concat_ws / ::VARCHAR)
    return _hash64(F.concat_ws("|", *cols), "md5")


def normalized_text(text: Column) -> Column:
    """Lowercase + whitespace-collapse (the exact-dedup canonical form)."""
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Array of n-word shingles (space-joined) from a token-array column.

    ``toks`` must be a *bound attribute* (a materialized column), not a
    composite expression: the transform lambda references it ``n+1`` times,
    and Catalyst does not common-subexpression-eliminate inside lambda
    bodies — an inline ``split()`` would re-tokenize the document per shingle
    word (quadratic in document length).
    """
    count = F.size(toks) - F.lit(n - 1)
    build = F.transform(
        F.sequence(F.lit(0), count - 1),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + F.lit(j + 1)) for j in range(n)]
        ),
    )
    return F.when(count > 0, build).otherwise(F.array().cast("array<string>"))


def word_shingles(text: Column, n: int = 3) -> Column:
    """n-word shingles straight from a text column. Prefer the two-step
    tokenize-then-shingle (see :func:`shingles_from_tokens`) in pipelines —
    this convenience form cannot materialize the token array first."""
    return shingles_from_tokens(F.split(F.trim(F.lower(text)), r"\s+"), n)


@register(namespace="eod", kind="df", context="dataframe", alias="dedup_exact")
def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate grouping: md5 of normalized text, canonical id = min id
    per hash group. Returns (id, fingerprint, canonical_id, is_duplicate).

    The min-id resolution is a WINDOW over the fingerprint partition — the
    r13 optimization-round shape. The old groupBy + join-back needed the
    (id, fingerprint) frame pinned (its two branches re-derived the
    normalize+md5 projection otherwise) and, at scale, shuffled the frame
    for the aggregate AND both join sides; the window is the same single
    hash exchange on ``fingerprint`` with no second branch, no pin, no
    join (guide §2.4 — operations keyed the same way share one exchange).
    Measured at sf0.1: 0.62 s → 0.29 s, plan 2 data exchanges + eager-pin
    count job → 1 exchange, outputs identical (the explicit
    ``fingerprint IS NOT NULL`` filter reproduces the inner join's
    null-key drop for NULL-text rows).
    """
    from pyspark.sql.window import Window

    with_fp = df.select(
        F.col(id_col),
        F.md5(normalized_text(F.col(text_col))).alias("fingerprint"),
    ).where(F.col("fingerprint").isNotNull())
    w = Window.partitionBy("fingerprint")
    return with_fp.withColumn("canonical_id", F.min(id_col).over(w)).select(
        id_col,
        "fingerprint",
        "canonical_id",
        (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
    )


def _tokens_frame(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(__id, __toks) with the <n-token documents dropped — the shared front
    of every shingle pipeline. The predicate re-states the split rather than
    referencing ``__toks`` so it can run against the scan without forcing
    the token array below the spread exchange (see _doc_shingle_arrays)."""
    return df.where(
        F.size(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")) >= F.lit(n)
    ).select(
        F.col(id_col).alias("__id"),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__toks"),
    )


def _doc_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(__id, __sh) inverted-index rows, distinct per document.

    Built by exploding the per-document ``array_distinct`` shingle array —
    dedup happens in-row, so no ``distinct()`` shuffle: the only exchange in
    a consumer's plan is its own join/agg.

    The generator expression is built INSIDE the explode's own projection
    (not staged through ``_doc_shingle_arrays``): explode of an array
    column defined in a *previous* select makes GenerateExec re-evaluate
    the whole interpreted shingle build per OUTPUT row — O(tokens²) per
    document — measured 156 s vs 1.2 s on a 50k-doc corpus (the same
    per-output-row re-evaluation family as the winnow/text_quality HOF
    traps; pinned by tests/test_plans.py).
    """
    return _tokens_frame(df, text_col, id_col, n).select(
        "__id",
        F.explode(
            F.array_distinct(shingles_from_tokens(F.col("__toks"), n))
        ).alias("__sh"),
    )


def _drop_hot_keys(df: DataFrame, key: str, cap: Optional[int]) -> DataFrame:
    """Drop the rows whose ``key`` occurs in more than ``cap`` rows (no-op
    when ``cap`` is None): the hot-key cut of every self-join on a key. A
    key in d rows contributes d²/2 join rows, so one stopword shingle or
    boilerplate fingerprint in 10M documents is 5·10¹³ rows. The hot-key
    frame is small by construction (the frequency tail), so AQE broadcasts
    it into the left-anti join."""
    if cap is None:
        return df
    hot = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") > int(cap))
        .select(key)
    )
    return df.join(hot, key, "left_anti")


def _shingle_index(
    df: DataFrame, text_col: str, id_col: str, n: int, max_df: Optional[int] = None
) -> DataFrame:
    """The pinned (__id, __sh) shingle index of ``df``, after the hot-key
    cut. Its consumers read it from several branches (sizes, both self-join
    sides, a join back), which would otherwise each re-run the tokenize and
    shingle projection; the rows are token-scale STRING shingles, so the
    pin is heap-gated like scrub_spans' span pin."""
    sh = _doc_shingles(spread_scan(df, id_col), text_col, id_col, n)
    return pin(_drop_hot_keys(sh, "__sh", max_df), _token_scale_est(df))


def _overlap_counts(rows: DataFrame, key: str, id_col: str) -> DataFrame:
    """``(id_a, id_b, __inter, __sza, __szb)`` over a distinct (id, key)
    frame: the number of keys each id pair (id_a < id_b) shares and both
    ids' key counts. An equi-join on ``key``, so ids that share no key
    never meet and the join is bounded by co-occurrence, not |ids|². Pairs
    sharing nothing are absent. ``rows`` is read three times; pin it."""
    sizes = rows.groupBy(id_col).agg(F.count(F.lit(1)).alias("__sz"))
    side = lambda s, c: F.col(f"{s}.{c}")  # noqa: E731
    inter = (
        rows.alias("a")
        .join(
            rows.alias("b"),
            (side("a", key) == side("b", key)) & (side("a", id_col) < side("b", id_col)),
        )
        .groupBy(side("a", id_col).alias("id_a"), side("b", id_col).alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    sz = lambda name, out: sizes.select(  # noqa: E731
        F.col(id_col).alias(name), F.col("__sz").alias(out)
    )
    return inter.join(sz("id_a", "__sza"), "id_a").join(sz("id_b", "__szb"), "id_b")


@register(namespace="eod", kind="df", context="dataframe", alias="ngram_jaccard_pairs")
def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: Optional[int] = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (id_a < id_b, jaccard ≥
    threshold) via an inverted shingle index: documents sharing zero shingles
    never meet, so the join output is bounded by co-occurrence, not |docs|².

    ``max_shingle_df`` drops shingles whose document frequency exceeds the
    cutoff BEFORE the self-join — the standard guard against stopword-shingle
    blowup on real corpora (a shingle in d documents contributes d²/2 join
    rows; one "of the and" shared by 10M docs is 5·10¹³ rows).  Jaccard is
    then computed over the filtered shingle space (both intersections and
    sizes exclude the dropped shingles), so results are IDENTICAL when no
    shingle exceeds the cutoff and a slight underestimate otherwise — the
    conservative direction for dedup.
    """
    sh = _shingle_index(df, text_col, id_col, n, max_shingle_df)
    return (
        _overlap_counts(sh, "__sh", "__id")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("__inter")
                / (F.col("__sza") + F.col("__szb") - F.col("__inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


@register(namespace="eod", kind="df", context="dataframe", alias="decontaminate")
def decontaminate(
    df: DataFrame,
    holdout: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    holdout_text_col: Optional[str] = None,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word n-gram with a (small) holdout/benchmark set — the standard
    test-set-leakage scrub a pre-training pipeline runs before training.

    Every training document comes back with its distinct-shingle count, the
    number of those shingles that appear anywhere in the holdout, the
    contaminated fraction, and a ``contaminated`` flag (``n_hits >=
    min_hits``) — auditable decisions, nothing silently dropped.

    Scale shape: the holdout is a benchmark (thousands of rows, not
    billions), so its distinct shingle set is broadcast — the corpus-sized
    side never shuffles for the membership probe; the only data-sized
    exchange is the per-document hit/size aggregate.  Both branches read the
    same pinned shingle frame, so tokenization runs once.
    """
    sh = _shingle_index(df, text_col, id_col, n)
    hold_sh = (
        _doc_shingles(holdout, holdout_text_col or text_col, id_col, n)
        .select("__sh")
        .distinct()
    )
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        sh.join(F.broadcast(hold_sh), "__sh")
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        df.select(F.col(id_col).alias("__id"))
        .join(sizes, "__id", "left")
        .join(hits, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(
                    F.try_divide(F.col("n_hits"), F.col("n_shingles")), F.lit(0.0)
                ),
                6,
            ).alias("contaminated_frac"),
            (F.coalesce("n_hits", F.lit(0)) >= F.lit(int(min_hits))).alias(
                "contaminated"
            ),
        )
    )


def _doc_shingle_arrays(
    df: DataFrame, text_col: str, id_col: str, n: int, hash_fn: str = "xxhash64"
) -> DataFrame:
    """(id, distinct shingle array, shingle-hash array) — pure projection.

    MinHash/SimHash are per-document computations, so the shingle set stays
    an ARRAY column inside the row instead of being exploded: no shuffle of
    shingle rows at any scale (contrast ``_doc_shingles``, whose inverted
    index is what the *exact* pairwise operator needs).

    Documents with fewer than ``n`` tokens (empty shingle set) are dropped
    HERE, by a cheap token-count predicate on the raw text. Consumers must
    NOT re-filter on ``size(__shd) > 0``: Catalyst substitutes ``__shd``'s
    defining expression into the predicate and pushes the whole interpreted
    shingle-build below the spread exchange, serializing it on the (often
    single-file) input side — measured 10s vs 0.5s at sf0.1.
    """
    toks = _tokens_frame(df, text_col, id_col, n)
    shd = toks.select(
        "__id", F.array_distinct(shingles_from_tokens(F.col("__toks"), n)).alias("__shd")
    )
    return shd.select(
        "__id",
        "__shd",
        F.transform(F.col("__shd"), lambda s: _hash64(s, hash_fn)).alias("__h64"),
    )


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-document minhash signature as ``num_hashes`` columns ``__mh{k}``.

    Base shingle hash is xxhash64 reduced mod the Mersenne prime; each
    permutation is the universal hash (a_k·h + b_k) mod P with (a_k, b_k)
    derived deterministically from ``seed``. Each signature entry is an
    ``array_min`` over the in-row hash array — the whole signature is one
    projection, zero shuffles (documents with no shingles are dropped, as
    the exploded formulation did implicitly).
    """
    arrays = _doc_shingle_arrays(df, text_col, id_col, n, hash_fn)
    return _signatures_from_arrays(arrays, _minhash_coeffs(num_hashes, seed), id_col)


def _minhash_coeffs(num_hashes: int, seed: int) -> list:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]


def _minhash_arrow(coeffs: list):
    from ffn_polars_spark.operators._arrow_kernels import make_minhash_udf

    return make_minhash_udf(coeffs)


def _md5_minhash_arrow(coeffs: list, n: int):
    from ffn_polars_spark.operators._arrow_kernels import make_md5_minhash_udf

    return make_md5_minhash_udf(coeffs, n)


def _md5_simhash_arrow(n: int):
    from ffn_polars_spark.operators._arrow_kernels import make_md5_simhash_udf

    return make_md5_simhash_udf(n)


def _signatures_from_arrays(arrays: DataFrame, coeffs: list, id_col: str) -> DataFrame:
    """Signature columns ``__mh{k}`` from a ``_doc_shingle_arrays`` frame.

    The permutation minima run in numpy over Arrow batches: Spark evaluates
    higher-order-function lambdas interpreted (outside whole-stage codegen),
    so at 128 permutations x ~50 shingles the kernel measured ~5-10x faster
    than an ``array_min(transform(...))`` per permutation — the documented
    exception to the built-ins-first rule."""
    hashed = arrays.select(
        F.col("__id").alias(id_col),
        F.transform(F.col("__h64"), lambda h: F.pmod(h, F.lit(_MERSENNE))).alias("__h"),
    )
    sig = _minhash_arrow(coeffs)(F.col("__h")).alias("__sig")
    return hashed.select(id_col, sig).select(
        id_col,
        *[F.element_at("__sig", k + 1).alias(f"__mh{k}") for k in range(len(coeffs))],
    )


def _bucket_pairs(
    rows: DataFrame, keys: list, item: Column, emit, max_bucket: Optional[int]
) -> DataFrame:
    """Distinct in-bucket pairs: one hash exchange on the bucket ``keys``
    collects each bucket's ``item`` values, and the pairs are generated
    inside the reduce task from the sorted list (a < b in sort order).
    ``emit(a, b)`` maps a left/right item pair to the output columns.

    ``max_bucket`` drops buckets holding more than that many rows BEFORE
    the ``collect_list``, by a window count keyed like the groupBy (same
    hash exchange, guide §2.4). Filtering ``size`` after the aggregate
    would first materialize a degenerate bucket's whole list in one
    unspillable aggregation buffer (a 1e9-doc boilerplate bucket is 8+ GB
    in one allocation); the window's row buffer spills to disk.

    Pairs stream: ``posexplode`` anchors each left element and a per-row
    ``slice`` of the list's suffix feeds a second explode, so in-row memory
    stays O(k). A ``flatten(transform(transform(...)))`` pair array would
    build all k²/2 pairs inside ONE row and hit the 2 GiB array limit on a
    degenerate bucket long before the pair stream itself is a problem.
    """
    if max_bucket is not None:
        from pyspark.sql.window import Window

        rows = (
            rows.withColumn("__bn", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
            .where(F.col("__bn") <= int(max_bucket))
            .drop("__bn")
        )
    ids = F.col("__ids")
    grouped = (
        rows.groupBy(*keys)
        .agg(F.collect_list(item).alias("__ids"))
        .where(F.size(ids) >= 2)
        .select(F.array_sort(ids).alias("__ids"))
    )
    lefts = grouped.select(ids, F.posexplode(ids).alias("__i", "__a"))
    pairs = lefts.select(
        F.col("__a"),
        F.explode(F.slice(ids, F.col("__i") + F.lit(2), F.size(ids))).alias("__b"),
    )
    return pairs.select(*emit(F.col("__a"), F.col("__b"))).distinct()


@register(namespace="eod", kind="df", context="dataframe", alias="dedup_minhash_lsh")
def dedup_minhash_lsh(
    df: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
    verify="exact",
    hash_fn: str = "xxhash64",
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs.

    Signature → ``bands`` band-hashes (rows = num_hashes/bands) → one
    groupBy on (band_id, band_hash) with in-bucket pair expansion → distinct
    candidate pairs → (optionally) exact Jaccard verification on candidates
    only. Defaults are 64/16 (r=4, S-curve midpoint ≈ 0.50): half the
    signature compute of 128/32 at the same band width, with near-identical
    recall above ~0.7 similarity (the dedup regime); pass 128/32 when
    hunting pairs near 0.4.

    ``max_bucket`` (default None = uncapped, bit-identical to the oracle
    twin) drops band buckets holding more than that many docs before they
    are collected — the same hot-key valve as winnow's ``max_fp_df``. A
    DEGENERATE bucket (e.g. a boilerplate/empty-text signature shared by
    k docs) emits C(k,2) pairs: at 100 TB one million-doc bucket is 5×10¹¹
    candidates from a single key, all landing on one task. Docs in a
    dropped bucket can still pair through their other ``bands − 1``
    buckets, so for true near-dups (most bands collide) the recall cost is
    ~0; set it around 10³–10⁴ when running web-scale corpora with
    boilerplate. Exact-duplicate GROUPS larger than the cap should be
    collapsed by [[dedup_exact]] first (cheaper and lossless) — the
    standard pipeline order.

    ``verify``: ``"exact"`` (default; also accepts ``True``) joins candidates
    back to the in-row shingle arrays and emits exact ``jaccard``;
    ``"band"``/``False``/``"none"`` returns the raw candidate pairs — the
    right mode when a downstream :func:`connected_components` consumes the
    pairs anyway and band precision suffices (skips the verification joins
    entirely).

    Every stage is a hash shuffle on a high-cardinality key; the candidate
    verification joins only the candidate ids back to the shingle index, so
    the expensive exact step is proportional to candidates, not corpus².
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    verify = {True: "exact", False: "none", "band": "none"}.get(verify, verify)
    if verify not in ("exact", "none"):
        raise ValueError(f"verify must be 'exact', 'band', or 'none'; got {verify!r}")
    rows = num_hashes // bands
    df = spread_scan(df, id_col)
    # One pinned pass builds the shingle + hash arrays; signatures, the
    # bucket groups, and verification all derive from it.
    # Pin ONLY (__id, __h64): signatures permute the hashes and the exact
    # verify intersects them, so the shingle STRINGS never need to leave
    # the projection — pinning them stored corpus-width text (~7x the
    # memory; the sf100 pin GC-thrashed an 8 GB heap) for no consumer.
    # eager=False: every reader of this pin is a stage of the returned
    # query, so construction launches no job; the cache fills once per
    # document when that query runs (see pins.pin). An eager count would
    # add a full pass (measured 5.0 s of task-time at sf0.1). Heap-gated
    # (r12): the arrays are longs-only (~8 B/shingle ≈ 2x the on-disk text
    # bytes in cache), but still token-scale — past the 30%-heap cap the
    # verify joins re-derive instead of GC-thrashing.
    est = _token_scale_est(df)
    coeffs = _minhash_coeffs(num_hashes, seed)
    if hash_fn == "md5":
        # Fused Arrow path: shingle build + md5 + permutation minima in ONE
        # numpy/hashlib kernel over the token arrays. The split JVM chain
        # evaluates concat_ws + md5 + conv inside transform() lambdas, which
        # run interpreted (no codegen inside HOF bodies) — measured 12.9 s
        # task-time at sf0.1 vs ~2 s fused, bit-identical h64/signatures
        # (guide §4.2). The pin carries (__id, __h64, __sig): h64 feeds the
        # verify joins, sig the band hashes — still longs-only, ~num_hashes
        # extra longs per doc on top of the shingle hashes.
        kernel = _md5_minhash_arrow(coeffs, n)
        arrays = pin(
            _tokens_frame(df, text_col, id_col, n)
            .select("__id", kernel(F.col("__toks")).alias("__o"))
            .select(
                "__id",
                F.col("__o.h64").alias("__h64"),
                F.col("__o.sig").alias("__sig"),
            ),
            (2 * est) // 3 if est is not None else None,
            eager=False,
        )
        sig = arrays.select(
            F.col("__id").alias(id_col),
            *[
                F.element_at("__sig", k + 1).alias(f"__mh{k}")
                for k in range(num_hashes)
            ],
        )
    else:
        arrays = pin(
            _doc_shingle_arrays(df, text_col, id_col, n, hash_fn).select(
                "__id", "__h64"
            ),
            (2 * est) // 3 if est is not None else None,
            eager=False,
        )
        sig = _signatures_from_arrays(arrays, coeffs, id_col)

    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            _hash64_multi(
                [F.col(f"__mh{b * rows + r}") for r in range(rows)], hash_fn
            ).alias("bh"),
        )
        for b in range(bands)
    ]
    bucket_rows = sig.select(
        F.col(id_col).alias("__id"),
        F.explode(F.array(*band_structs)).alias("__b"),
    ).select(
        "__id", F.col("__b.band").alias("__band"), F.col("__b.bh").alias("__bh")
    )
    # The signature frame has a single reader (the bucket groupBy), so there
    # is no bucket pin and no construction-time job.
    cands = _bucket_pairs(
        bucket_rows,
        ["__band", "__bh"],
        F.col("__id"),
        lambda a, b: [a.alias("id_a"), b.alias("id_b")],
        max_bucket,
    )
    if verify == "none":
        return cands

    # Exact-Jaccard verification on candidates only: join each side's in-row
    # HASH array (two hash joins keyed on doc id — candidate-proportional)
    # and intersect in place. Intersecting the 64-bit shingle hashes instead
    # of the shingle strings is value-identical up to a 2^-64 collision
    # (distinct strings hashing equal) and keeps the pinned frame longs-only;
    # the oracle twin intersects the same hashes, so parity is exact.
    a = arrays.select(F.col("__id").alias("id_a"), F.col("__h64").alias("__sha"))
    b = arrays.select(F.col("__id").alias("id_b"), F.col("__h64").alias("__shb"))
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    union = F.size("__sha") + F.size("__shb") - inter
    # floor(x*1e6+0.5)/1e6, not F.round: identical IEEE ops in any engine,
    # so an external SQL oracle reproduces the value bit-for-bit.
    jacc = F.floor(
        (inter / union.cast("double")) * F.lit(1000000.0) + F.lit(0.5)
    ) / F.lit(1000000.0)
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jacc.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


@register(namespace="eod", kind="df", context="dataframe", alias="simhash_signatures")
def simhash_signatures(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document: sign-sum of shingle-hash bits.

    Per-document like minhash, so it's a single projection over the in-row
    hash array: bit j's counter is ``2 * count(hashes with bit j set) -
    |hashes|``; the fingerprint is reassembled with shifts. The bit counts
    run in an Arrow/numpy kernel, as in ``_signatures_from_arrays``. In md5
    mode the shingle build + hash + bit counts fuse into one Arrow kernel
    (see dedup_minhash_lsh — same interpreted-HOF cost, same bit-identical
    fusion).
    """
    if hash_fn == "md5":
        return _tokens_frame(df, text_col, id_col, n).select(
            F.col("__id").alias(id_col),
            _md5_simhash_arrow(n)(F.col("__toks")).alias("simhash"),
        )
    arrays = _doc_shingle_arrays(df, text_col, id_col, n, hash_fn)
    return arrays.select(
        F.col("__id").alias(id_col), F.col("__h64").alias("__h")
    ).select(id_col, _simhash_arrow()(F.col("__h")).alias("simhash"))


def _simhash_arrow():
    from ffn_polars_spark.operators._arrow_kernels import make_simhash_udf

    return make_simhash_udf()


@register(namespace="eod", kind="df", context="dataframe", alias="dedup_simhash")
def dedup_simhash(
    df: DataFrame,
    max_hamming: int = 3,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """SimHash near-duplicate pairs within a Hamming ball.

    Pigeonhole banding: with 4 16-bit chunks, any pair within Hamming ≤ 3
    agrees on at least one chunk, so candidates come from 4 chunk-equality
    joins (union'd via explode), then ``bit_count(xor)`` filters exactly.

    ``max_bucket`` (default None = uncapped, bit-identical to the oracle
    twin) drops 16-bit chunk buckets holding more than that many docs
    BEFORE they are collected — the dedup_minhash_lsh hot-bucket valve. A
    boilerplate chunk value shared by k docs emits C(k,2) candidates; docs
    in a dropped bucket can still pair through their other 3 chunks, so
    recall for true near-dups (which agree on most chunks) is ~unchanged.
    Set around 10³–10⁴ for web-scale corpora.
    """
    # Buckets collect (id, simhash) structs, so each pair's hamming comes
    # from the bucket list itself; sorting the structs sorts by id. The
    # signature frame has a single reader, so there is no signature pin and
    # no construction-time job.
    sig = simhash_signatures(spread_scan(df, id_col), n, text_col, id_col, hash_fn)
    chunks = sig.select(
        F.col(id_col).alias("__id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("simhash", 16 * c)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("__c"),
    ).select("__id", "simhash", F.col("__c.chunk").alias("__chunk"), F.col("__c.val").alias("__val"))

    return _bucket_pairs(
        chunks,
        ["__chunk", "__val"],
        F.struct(F.col("__id"), F.col("simhash")),
        lambda a, b: [
            a.getField("__id").alias("id_a"),
            b.getField("__id").alias("id_b"),
            F.bit_count(
                a.getField("simhash").bitwiseXOR(b.getField("simhash"))
            ).alias("hamming"),
        ],
        max_bucket,
    ).where(F.col("hamming") <= max_hamming)


@register(namespace="eod", kind="df", context="dataframe", alias="connected_components")
def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a similarity-pair edge list:
    (node, component) where component = min node id reachable.

    Turns pairwise dedup output (minhash/simhash/jaccard pairs) into CLUSTER
    assignments — the step between "these documents look alike" and "keep
    one canonical copy per group".

    Iterative min-label propagation: each round every node takes the minimum
    of its own label and its neighbors' labels; converges in O(graph
    diameter) rounds (near-dup clusters are dense, so typically 2-4). Each
    iteration ``localCheckpoint``s the label frame — without it the plan
    doubles per round and the job dies on lineage, the classic iterative-
    algorithm failure on Spark. Convergence is detected by an aggregate
    (count of changed labels), one small job per round.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("comp").alias("__nbr"))
        )
        new_labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["src"], "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce(F.col("__nbr"), F.col("comp"))).alias(
                    "__new"
                ),
                "comp",
            )
        )
        changed = new_labels.where(F.col("__new") != F.col("comp")).count()
        prev = labels
        labels = new_labels.select(
            "node", F.col("__new").alias("comp")
        ).localCheckpoint()  # eager: prev's blocks are dead now
        release_checkpoint(prev)
        if changed == 0:
            break
    edges.unpersist()
    # the final checkpoint backs the returned frame; release_pins() frees
    # its blocks once the caller has materialized (the frame stays usable —
    # the logical plan re-derives it)
    return pin_checkpoint(labels)


@register(namespace="eod", kind="df", context="dataframe", alias="dedup_assign_canonical")
def dedup_assign_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Every document with its canonical id (the min id of its near-dup
    cluster; singletons are their own canonical) and an ``is_duplicate``
    flag — the materialized keep/drop decision for a dedup pipeline."""
    comps = connected_components(pairs, id_a, id_b)
    return (
        df.join(comps, df[id_col] == comps["node"], "left")
        .select(
            df[id_col],
            F.coalesce(F.col("comp"), df[id_col]).alias("canonical_id"),
        )
        .withColumn("is_duplicate", F.col(id_col) != F.col("canonical_id"))
    )


@register(namespace="eod", kind="df", context="dataframe", alias="dedup_cluster_stats")
def dedup_cluster_stats(
    assign: DataFrame, canonical_col: str = "canonical_id"
) -> DataFrame:
    """Duplicate-cluster size distribution over a canonical assignment
    (the output of [[dedup_canonical]] / ``dedup_assign_canonical``):
    how many clusters exist at each size, and how many documents they
    hold. The shape of this histogram is the dedup health-check — a fat
    tail of giant clusters means boilerplate or template spam; all-1
    clusters mean the threshold is too strict to matter.

    Two tiny hash aggregates over the assignment (both map-side partial):
    nothing here is corpus-sized after the first ``groupBy``. Returns
    ``(cluster_size, n_clusters, n_docs)``.
    """
    cl = assign.groupBy(canonical_col).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return cl.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="dedup_incremental")
def dedup_incremental(
    new: DataFrame,
    seen: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup of a NEW batch against an already-ingested
    history: drop rows whose normalized-text fingerprint appears in
    ``seen``, then keep one row (min id) per fingerprint within the batch
    itself — the shape a daily-crawl pipeline actually runs, where the
    history is orders of magnitude larger than the increment and must
    never be re-deduped whole ([[dedup_exact]] is the from-scratch
    variant).

    Scale: the history side reduces to DISTINCT fingerprints before the
    anti-join (fingerprint-cardinality, not row-cardinality, crosses the
    wire; both sides hash-partition on the fingerprint); the within-batch
    keep-first is one aggregate on the same key — the big history is
    scanned once, projected to one column.

    Returns the surviving new rows' ``(id, fingerprint)``.
    """
    fp = lambda d: d.select(
        F.col(id_col), F.md5(normalized_text(F.col(text_col))).alias("fingerprint")
    )
    new_fp = fp(new)
    seen_fp = fp(seen).select("fingerprint").distinct()
    fresh = new_fp.join(seen_fp, "fingerprint", "left_anti")
    keep = fresh.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return keep.select(id_col, "fingerprint")


@register(namespace="eod", kind="df", context="dataframe", alias="containment_pairs")
def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: Optional[int] = None,
) -> DataFrame:
    """Asymmetric containment near-duplicate pairs: ``C(A→B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)|`` — the measure
    [[ngram_jaccard_pairs]]'s symmetric Jaccard systematically misses
    when one document QUOTES another (a paragraph wholly inside a long
    doc has high containment but low Jaccard; Broder's original dedup
    distinguished exactly these two). Emits pairs (id_a < id_b) where
    EITHER direction's containment clears ``threshold``, with both
    directions reported.

    Same inverted-shingle-index shape as the Jaccard variant (documents
    sharing zero shingles never meet; ``max_shingle_df`` drops
    stopword-shingles before the self-join), so the join is bounded by
    co-occurrence, not |docs|². Returns ``(id_a, id_b, containment_a,
    containment_b)``.
    """
    sh = _shingle_index(df, text_col, id_col, n, max_shingle_df)
    out = _overlap_counts(sh, "__sh", "__id").select(
        "id_a",
        "id_b",
        F.round(F.col("__inter") / F.col("__sza").cast("double"), 6).alias(
            "containment_a"
        ),
        F.round(F.col("__inter") / F.col("__szb").cast("double"), 6).alias(
            "containment_b"
        ),
    )
    return out.where(
        (F.col("containment_a") >= threshold)
        | (F.col("containment_b") >= threshold)
    )


@register(namespace="eod", kind="df", context="dataframe", alias="fuzzy_match_pairs")
def fuzzy_match_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    max_dist: int = 2,
    max_block: Optional[int] = None,
) -> DataFrame:
    """Blocked fuzzy record linkage: candidate pairs (id_a < id_b) within
    the same block whose ``levenshtein(text_a, text_b) ≤ max_dist`` — the
    classic entity-resolution shape (normalize → block → pairwise edit
    distance inside blocks only). Blocking is what makes this survive
    scale: the self-join is equi-keyed on ``block_col``, so cost is
    Σ block² rather than |rows|², and AQE splits oversized blocks; pick a
    block key (sort key prefix, phonetic code, LSH bucket) whose largest
    block is manageable. Levenshtein runs JVM-side (built-in, codegen) on
    the surviving candidates only.

    ``max_block`` is the scale guard (the [[ngram_jaccard_pairs]]
    hot-shingle idiom): blocks larger than the cutoff are dropped BEFORE
    the self-join — a block of b rows costs b²/2 comparisons, so one
    degenerate key value (measured: a 40k-row block = 800M pairs) must
    not be allowed to dominate the stage. Conservative direction for
    linkage: candidates are only ever lost from blocks the key failed to
    discriminate, which need a better key, not a bigger cluster.

    Returns ``(block, id_a, id_b, text_a, text_b, distance)``.
    """
    slim = df.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__txt"),
    )
    slim = _drop_hot_keys(slim, "__blk", max_block)
    a, b = slim.alias("a"), slim.alias("b")
    pairs = a.join(
        b,
        (F.col("a.__blk") == F.col("b.__blk")) & (F.col("a.__id") < F.col("b.__id")),
    ).select(
        F.col("a.__blk").alias(block_col),
        F.col("a.__id").alias("id_a"),
        F.col("b.__id").alias("id_b"),
        F.col("a.__txt").alias("text_a"),
        F.col("b.__txt").alias("text_b"),
        F.levenshtein(F.col("a.__txt"), F.col("b.__txt")).alias("distance"),
    )
    return pairs.where(F.col("distance") <= int(max_dist))


@register(namespace="eod", kind="df", context="dataframe", alias="sorted_fuzzy_pairs")
def sorted_fuzzy_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 10,
    max_dist: int = 2,
    by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Sorted-neighborhood fuzzy linkage: sort records by the text key and
    compare each row only to its next ``window`` neighbors in sort order
    — the LINEAR-cost alternative to [[fuzzy_match_pairs]]'s blocking
    (measured: fixed-cardinality blocks grow quadratically, 13.6× cost
    at 10× data; the sliding window is O(n·w) by construction, so the
    same 10× costs ~10×). Lexicographic neighbors catch edit-distance
    matches whose DIFFERENCES are past the first characters; prefix
    edits need a second pass on a reversed or phonetic key — the
    standard multi-pass sorted-neighborhood method.

    One ordered window for the rank, an explode of each row to its
    ``window`` forward offsets, an equi-join on (keys, rank) — never a
    block self-join — then the JVM edit distance on candidates only.
    Returns ``(id_a, id_b, text_a, text_b, distance)``.
    """
    from pyspark.sql.window import Window

    keys = list(by or [])
    w = Window.partitionBy(*keys).orderBy(
        F.col("__txt").asc(), F.col("__id").asc()
    )
    ranked = df.select(
        *keys, F.col(id_col).alias("__id"), F.col(text_col).alias("__txt")
    ).withColumn("__rn", F.row_number().over(w))
    left = ranked.select(
        *keys, F.col("__id").alias("id_a"), F.col("__txt").alias("text_a"),
        F.explode(
            F.sequence(F.col("__rn") + 1, F.col("__rn") + F.lit(int(window)))
        ).alias("__rn"),
    )
    right = ranked.select(
        *keys, F.col("__rn"),
        F.col("__id").alias("id_b"), F.col("__txt").alias("text_b"),
    )
    pairs = left.join(right, keys + ["__rn"]).select(
        "id_a", "id_b", "text_a", "text_b",
        F.levenshtein(F.col("text_a"), F.col("text_b")).alias("distance"),
    )
    return pairs.where(F.col("distance") <= int(max_dist))


@register(namespace="eod", kind="df", context="dataframe", alias="shingle_novelty")
def shingle_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Corpus-order novelty score: the share of each document's distinct
    n-gram shingles whose FIRST appearance (lowest id in ingest order)
    is this document — 1.0 = all-new content, →0 = everything was
    already said. The freshness signal corpus curation ranks by after
    dedup: [[dedup_minhash_lsh]] removes copies, novelty quantifies how
    much each survivor adds.

    One distinct (shingle, id) frame, a min-id aggregate at shingle
    cardinality, one join back, one per-doc aggregate — no pair join at
    all (unlike the pairwise dedup family, attribution needs only the
    per-shingle minimum). Returns ``(id, n_shingles, n_novel,
    novelty)``; documents with no shingles are absent.
    """
    sh = _shingle_index(df, text_col, id_col, n)
    first = sh.groupBy("__sh").agg(F.min("__id").alias("__first"))
    joined = sh.join(first, "__sh")
    agg = joined.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum((F.col("__id") == F.col("__first")).cast("long")).alias("n_novel"),
    )
    return agg.select(
        F.col("__id").alias(id_col),
        "n_shingles",
        "n_novel",
        (F.col("n_novel").cast("double") / F.col("n_shingles").cast("double")).alias(
            "novelty"
        ),
    )
