"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): language ID,
quality scoring, token counting, and document fingerprinting over a
``documents(doc_id, text, ...)`` table. Everything is built from native
``pyspark.sql.functions`` string/array expressions — no Python UDFs — so the
whole pipeline stays inside whole-stage codegen and scales linearly with
executors (pure map-side work: no shuffle at all unless the caller
aggregates).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ffn_polars_spark.operators._scanmeta import spread_scan
from ffn_polars_spark.pins import _token_scale_est, pin
from ffn_polars_spark.registry import register

# Tiny per-language stopword marker sets for the n-gram/stopword language-ID
# heuristic. Deliberately small and disjoint-ish: the point is the scalable
# counting pattern, not lexicographic completeness.
LANG_MARKERS: Dict[str, List[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "pour", "que"],
    "es": ["el", "los", "las", "y", "es", "una", "en", "por", "para"],
}

EN_STOPWORDS = LANG_MARKERS["en"]


def tokens(text: Column) -> Column:
    """Whitespace tokenization of lowercased text."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count (the cheap proxy; see bpe_token_estimate)."""
    return F.size(tokens(text))


def bpe_token_estimate(text: Column) -> Column:
    """BPE-ish token estimate without a vocabulary: count word pieces and
    punctuation via a subword-shaped regex (runs of <=4 word chars, digits,
    or single non-space symbols). Deterministic, vectorized, JVM-side."""
    pieces = F.regexp_extract_all(
        F.lower(text), F.lit(r"[a-z]{1,4}|[0-9]|[^a-z0-9\s]"), 0
    )
    return F.size(pieces)


def char_count(text: Column) -> Column:
    return F.length(text)


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation."""
    n = F.length(text)
    p = n - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(n > 0, p.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, stopwords: Optional[List[str]] = None) -> Column:
    """Fraction of tokens that are (English, by default) stopwords."""
    sw = stopwords or EN_STOPWORDS
    toks = tokens(text)
    matches = F.size(F.filter(toks, lambda t: t.isin(*sw)))
    total = F.size(toks)
    return F.when(total > 0, matches.cast("double") / total.cast("double")).otherwise(
        F.lit(0.0)
    )


def mean_word_length(text: Column) -> Column:
    toks = tokens(text)
    total_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(F.size(toks) > 0, total_chars / F.size(toks).cast("double")).otherwise(
        F.lit(0.0)
    )


def _quality_features(txt: Column, toks: Column) -> Dict[str, Column]:
    """text_quality's features and composite [0, 1] quality score
    (Gopher/C4-style length + structure heuristics, 0.25 per passed check)
    from a staged ``(text, token array)`` pair of bound attributes: the
    token features are interpreted higher-order functions, so they must
    read the staged array, never an inline ``tokens(text)``."""
    n_tok = F.size(toks)
    total_chars = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    mwl = F.when(n_tok > 0, total_chars / n_tok.cast("double")).otherwise(F.lit(0.0))
    pr = punct_ratio(txt)
    sw_matches = F.size(F.filter(toks, lambda x: x.isin(*EN_STOPWORDS)))
    sr = F.when(n_tok > 0, sw_matches.cast("double") / n_tok.cast("double")).otherwise(
        F.lit(0.0)
    )
    score = (
        F.when((n_tok >= 5) & (n_tok <= 100000), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(pr <= 0.3, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(sr >= 0.05, F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return {
        "n_chars": F.length(txt),
        "n_tokens": n_tok,
        "mean_word_len": mwl,
        "punct_ratio": pr,
        "stopword_ratio": sr,
        "quality_score": score,
    }


@register(namespace="eod", kind="df", context="dataframe", alias="text_quality")
def text_quality(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document quality scoring: length, token stats, punctuation and
    stopword ratios, and a composite [0, 1] quality score (Gopher/C4-style
    length + structure heuristics). Pure map-side — no shuffle.

    The token array is materialized ONCE in a first projection: the token
    features are interpreted higher-order functions (outside codegen, so no
    runtime common-subexpression elimination), and inlining ``tokens()``
    into each of them re-ran the regex split per feature — measured 1.8x
    slower on a 500k-doc corpus."""
    df = spread_scan(df, id_col)
    t = F.col(text_col)
    staged = df.select(F.col(id_col), t.alias("__txt"), tokens(t).alias("__toks"))
    f = _quality_features(F.col("__txt"), F.col("__toks"))
    return staged.select(
        F.col(id_col),
        f["n_chars"].alias("n_chars"),
        f["n_tokens"].alias("n_tokens"),
        *[
            F.round(f[k], 6).alias(k)
            for k in ("mean_word_len", "punct_ratio", "stopword_ratio", "quality_score")
        ],
    )


def language_vote(text: Column, toks: Optional[Column] = None) -> Column:
    """Arg-max language struct ``(n, r, lang)`` for the marker-count
    heuristic: higher marker count wins, ties keep the lexicographically
    smaller code. A pure column expression so composed pipelines can
    evaluate it in the same projection as other text features.

    Implemented as ``array_max`` over an array of per-language structs —
    structs compare lexicographically by (count, negated-rank), so the max
    is the highest count with ties going to the earliest (smallest) code.
    Each count expression appears exactly ONCE in the plan; a WHEN/ELSE
    fold would copy every earlier struct into both branches of each step
    (exponential expression blowup — measured 20× slower on this exact
    operator, each copy re-tokenizing the document).

    Pass ``toks`` (a *bound* token-array attribute staged in a previous
    projection) when composing with other token features: the per-language
    filters are interpreted HOFs with no common-subexpression elimination,
    so an inline ``tokens(text)`` re-runs the regex split once per language
    (4× here; 15× across a composed pipeline like ``clean_corpus``)."""
    toks = toks if toks is not None else tokens(text)

    def marker_count(markers):
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    entries = [
        F.struct(
            marker_count(markers).alias("n"),
            F.lit(-i).alias("r"),
            F.lit(lang).alias("lang"),
        )
        for i, (lang, markers) in enumerate(sorted(LANG_MARKERS.items()))
    ]
    return F.array_max(F.array(*entries))


@register(namespace="eod", kind="df", context="dataframe", alias="language_id")
def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-marker language ID over {en, de, fr, es}.

    Counts marker-token occurrences per language (duplicates included) and
    takes the arg-max, ties broken by language code — a greatest-of-structs
    comparison, fully native, no shuffle. The token array is staged once
    (the `best` struct is referenced twice and holds four interpreted
    filters — inlining ``tokens()`` evaluated the split 8×).
    """
    df = spread_scan(df, id_col)
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    best = language_vote(F.lit(""), toks=F.col("__toks"))
    return staged.select(
        F.col(id_col),
        best.getField("lang").alias("lang_pred"),
        best.getField("n").alias("marker_hits"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="fingerprint")
def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content-defined document fingerprint: md5 of whitespace-normalized
    lowercased text. The normalize-then-hash shape is the standard exact-dedup
    key at corpus scale (hash is computed map-side; dedup is then one
    hash-partitioned groupBy)."""
    df = spread_scan(df, id_col)
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fingerprint"),
    )


# Winnowing parameters: polynomial rolling hash base/modulus chosen so the
# k-gram hash stays inside int64 with PLAIN arithmetic (max term 255·257³ ≈
# 4.3e9, k terms sum < 2^35) — the same expression evaluates bit-identically
# in any engine with 64-bit integer math, which is what makes the operator
# exactly oracle-checkable (unlike engine-specific hash functions).
_WINNOW_BASE = 257
_WINNOW_MOD = (1 << 31) - 1


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MOSS-style winnowing fingerprints: the rolling-hash document sketch.

    Every ``k``-gram of the normalized text gets a polynomial hash; each
    sliding window of ``window`` consecutive k-gram hashes contributes its
    MINIMUM; the distinct selected minima are the document's fingerprint set
    (Schleimer/Wilkerson/Aiken 2003). Guarantee: any shared substring of
    length ≥ ``window + k - 1`` yields at least one shared fingerprint, so
    overlap detection reduces to an equi-join on ``fp`` — the same
    inverted-index shape as ``ngram_jaccard_pairs``, but robust to
    insertions/reordering at sub-token granularity.

    Pure per-document projection + explode: no shuffle until a consumer
    joins/aggregates. The hash/min/distinct chain runs as ONE Arrow numpy
    kernel per document batch — an equivalent transform/aggregate HOF
    formulation is interpreted AND its ``__h`` array gets re-expanded by
    CollapseProject into every downstream reference (size, slice bounds,
    per-window min), turning O(n·k) into O(n·w·k) interpreted ops per row;
    measured >100× slower on 500 docs.

    Returns ``(id, fp)`` rows, distinct per document.
    """
    df = spread_scan(df, id_col)
    from ffn_polars_spark.operators._arrow_kernels import make_winnow_udf

    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    fps = make_winnow_udf(k, window, _WINNOW_BASE, _WINNOW_MOD)
    return (
        df.select(F.col(id_col), norm.alias("__norm"))
        .where(F.length("__norm") >= F.lit(k + window - 1))
        .select(F.col(id_col), F.explode(fps("__norm")).alias("fp"))
    )


def winnow_overlap_pairs(
    df: DataFrame,
    k: int = 4,
    window: int = 4,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_fp_df: Optional[int] = 1024,
) -> DataFrame:
    """Near-duplicate candidate pairs from shared winnowing fingerprints.

    The scalable consumer of ``winnow_fingerprints``: an inverted-index
    equi-join on ``fp`` (documents sharing no fingerprint never meet — join
    output is bounded by fingerprint co-occurrence, not |docs|²), pair
    counts aggregated, then ``containment = shared / min(|fps_a|, |fps_b|)``
    from a broadcast-friendly sizes join. Same shape as
    ``dedup.ngram_jaccard_pairs`` but over sub-token rolling-hash sketches,
    so it catches partial overlap/quotation that token shingles miss.

    ``max_fp_df`` drops fingerprints whose document frequency exceeds the
    cutoff before the self-join — the hot-key guard (a fingerprint shared by
    d docs contributes d²/2 join rows). Both ``shared`` and sizes exclude
    dropped fingerprints, so results are identical when nothing exceeds the
    cutoff, conservative otherwise.

    The guard is ON by default (df ≤ 1024, bounding any single
    fingerprint's join contribution at ~0.5M rows): an uncapped run is
    quadratic in the hottest fingerprint's document frequency, and
    corpus-wide boilerplate fingerprints carry no dedup signal anyway —
    measured on a low-entropy 50k-doc corpus the uncapped self-join
    generates >10¹⁰ rows and OOMs, while capped it is bounded and the
    surviving containment scores are unchanged. Pass ``max_fp_df=None``
    only for small corpora / exact-baseline verification.
    """
    from ffn_polars_spark.operators.dedup import _drop_hot_keys, _overlap_counts

    fps = winnow_fingerprints(spread_scan(df, id_col), k, window, text_col, id_col)
    # pinned (heap-gated, r12): feeds three branches (sizes + both
    # self-join sides), but the fingerprint rows are token-scale
    # (~1 per window position) — past the 30%-heap cap the branches
    # re-derive instead of GC-thrashing
    fps = pin(_drop_hot_keys(fps, "fp", max_fp_df), _token_scale_est(df))
    return (
        _overlap_counts(fps, "fp", id_col)
        .where(F.col("__inter") >= F.lit(min_shared))
        .select(
            "id_a",
            "id_b",
            F.col("__inter").alias("shared"),
            F.round(
                F.col("__inter") / F.least("__sza", "__szb").cast("double"), 6
            ).alias("containment"),
        )
    )


# Redaction patterns restricted to the regex subset with identical semantics
# in Java (Spark) and RE2 (most other engines): character classes, bounded
# repetition, alternation — no backreferences or lookaround, so the scrubbed
# text is reproducible outside Spark.
PII_PATTERNS: Dict[str, str] = {
    "url": r"https?://[^\s]+",
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\- ]{6,}[0-9]",
}


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    patterns: Optional[Dict[str, str]] = None,
) -> DataFrame:
    """Redact PII-shaped spans, keeping an audit count per pattern.

    Patterns apply in dict order (URLs before emails, so an address inside a
    query string is swallowed by the URL redaction rather than double-
    counted); each match is replaced by ``<NAME>`` and counted BEFORE later
    patterns run, so counts refer to spans of the original-or-prior-scrubbed
    text. Pure map-side projection — zero shuffle, stays in codegen.

    Returns ``(id, clean_text, n_<name> per pattern, n_redactions)``.
    """
    df = spread_scan(df, id_col)
    pats = patterns or PII_PATTERNS
    cur: Column = F.col(text_col)
    counts = []
    for name, pat in pats.items():
        counts.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), F.lit(0))).alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, f"<{name.upper()}>")
    out = df.select(F.col(id_col), cur.alias("clean_text"), *counts)
    total_expr = None
    for name in pats:
        n = F.col(f"n_{name}")
        total_expr = n if total_expr is None else total_expr + n
    return out.withColumn("n_redactions", total_expr)


def corpus_stats(
    df: DataFrame,
    group_cols: Sequence[str] = ("lang", "source"),
    text_col: str = "text",
) -> DataFrame:
    """Per-group corpus composition stats: doc/token/char counts, token
    mean/stddev, and exact interpolated p50/p95 token counts.

    One partial+final aggregate (percentiles included — Spark's
    ``percentile`` aggregates a per-group digest map-side, so this is a
    single shuffle of small partial states, not a sort of the corpus). The
    standard first report over a new crawl snapshot: what is in it, from
    where, how long.
    """
    df = spread_scan(df, text_col)
    t = F.col(text_col)
    nt = token_count(t).cast("double")
    base = df.select(*group_cols, nt.alias("__nt"), char_count(t).alias("__nc"))
    return base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").cast("long").alias("total_tokens"),
        F.sum("__nc").alias("total_chars"),
        F.round(F.avg("__nt"), 6).alias("avg_tokens"),
        F.round(F.stddev_samp("__nt"), 6).alias("std_tokens"),
        F.round(F.percentile("__nt", F.lit(0.5)), 6).alias("p50_tokens"),
        F.round(F.percentile("__nt", F.lit(0.95)), 6).alias("p95_tokens"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="repetition_stats")
def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repetition signals (the Gopher/MassiveText repetition
    filter family, Rae et al. 2021 §A1.1): machine-generated and boilerplate
    text repeats itself, and these three fractions catch the common shapes —

    * ``dup_word_frac``    — 1 − distinct/total tokens (inverse type-token
      ratio; in-row, no shuffle),
    * ``top_bigram_frac``  — share of bigram occurrences taken by the single
      most frequent bigram (catches "foo bar foo bar ..." loops),
    * ``dup_trigram_frac`` — share of trigram occurrences whose trigram
      appears more than once (catches longer-range verse/chorus repetition).

    Plan: one scan builds bigram+trigram occurrence rows in-row (tagged
    structs, single explode), one (doc, n, gram) count aggregate, one tiny
    per-doc fold — two shuffles of gram-count rows, nothing document-sized
    crosses twice. Per-doc gram cardinality bounds the explode at ~2×tokens,
    so the shape holds at any corpus size.
    """
    df = spread_scan(df, id_col)
    from ffn_polars_spark.operators.dedup import shingles_from_tokens

    base = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    tagged = base.select(
        id_col,
        F.size("__toks").alias("n_tokens"),
        F.size(F.array_distinct("__toks")).alias("__nd"),
        F.explode_outer(
            F.concat(
                F.transform(
                    shingles_from_tokens(F.col("__toks"), 2),
                    lambda s: F.struct(F.lit(2).alias("n"), s.alias("sh")),
                ),
                F.transform(
                    shingles_from_tokens(F.col("__toks"), 3),
                    lambda s: F.struct(F.lit(3).alias("n"), s.alias("sh")),
                ),
            )
        ).alias("__g"),
    )
    counts = tagged.groupBy(
        id_col, "n_tokens", "__nd", F.col("__g.n").alias("__n"), F.col("__g.sh")
    ).agg(F.count(F.lit(1)).alias("__c"))
    per_doc = counts.groupBy(id_col, "n_tokens", "__nd").agg(
        *[
            f(F.when(F.col("__n") == k, expr)).alias(name)
            for k, tag in ((2, "2"), (3, "3"))
            for f, expr, name in (
                (F.sum, F.col("__c"), f"__tot{tag}"),
                (F.max, F.col("__c"), f"__top{tag}"),
                (F.sum, F.when(F.col("__c") > 1, F.col("__c")), f"__dup{tag}"),
            )
        ]
    )
    z = F.lit(0.0)
    return per_doc.select(
        F.col(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(
            F.lit(1.0) - F.col("__nd") / F.col("n_tokens").cast("double"), 6
        ).alias("dup_word_frac"),
        F.round(
            F.coalesce(F.try_divide(F.col("__top2"), F.col("__tot2")), z), 6
        ).alias("top_bigram_frac"),
        F.round(
            F.coalesce(F.try_divide(F.col("__dup3"), F.col("__tot3")), z), 6
        ).alias("dup_trigram_frac"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="vocab_topk")
def vocab_topk(
    df: DataFrame, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Corpus vocabulary: the ``k`` most frequent tokens.

    Tokenize, explode, count, top-k — ordered by ``(freq desc, token asc)``
    so ties are deterministic. The groupBy gets map-side partial counts for
    free (per-partition hash agg before the shuffle: what crosses the wire
    is one row per distinct token per partition, not one per occurrence),
    and the final ``orderBy().limit()`` compiles to
    ``TakeOrderedAndProject`` — per-partition local top-k, one driver-side
    merge, no global sort. At 100 TB vocabulary is the small side (≤ a few
    hundred M distinct tokens), so nothing here is corpus-sized after the
    first aggregate.

    Returns ``(token, freq)``.
    """
    df = spread_scan(df, text_col)
    toks = df.select(F.explode(tokens(F.col(text_col))).alias("token")).where(
        F.col("token") != ""
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    return counts.orderBy(F.desc("freq"), F.asc("token")).limit(int(k))


@register(namespace="eod", kind="df", context="dataframe", alias="duplicate_spans")
def duplicate_spans(
    df: DataFrame,
    width: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Cross-document duplicated-span statistics (substring-level dedup).

    The signal behind substring deduplication of training corpora (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better"):
    spans repeated *across* documents are boilerplate/memorization risk
    even when no whole document is a near-duplicate. Every sliding window
    of ``width`` tokens is a span; a span present in ≥ ``min_docs``
    distinct documents is duplicated; each document reports how much of it
    is made of duplicated spans.

    Plan shape (the scalable part): spans are built in-row from one
    materialized token array (``shingles_from_tokens`` — no re-tokenize per
    span), the per-document DISTINCT bounds what crosses the wire at
    ~tokens-per-doc rows, and the document-frequency pass is a *groupBy*,
    not a self-join — no pair explosion anywhere, two shuffles total,
    both linear in corpus token count. Documents shorter than ``width``
    tokens have no spans and are absent from the output.

    The distinct (doc, span-HASH) frame is PINNED (``pins.pin``, caller
    releases via ``release_pins``): its three consumers (the span-frequency
    groupBy, the join, and the per-doc rollup) cannot share the distinct
    exchange — column pruning gives each branch a different canonical
    subtree — so unpinned they re-scan and re-shingle the corpus per branch
    (same measured 2.3× win as [[tfidf_topterms]]). Spans ride as 64-bit
    HASHES end to end (``hash_fn`` as in the dedup family): the counts are
    value-identical up to a 2⁻⁶⁴ collision, the oracle twin hashes the same
    way, and the pin stays longs-only — the string-span pin GC-thrashed an
    8 GB heap at 5M docs (the minhash lesson).

    Returns ``(id, n_spans, dup_spans, dup_frac)`` — distinct spans in the
    document, how many of them are duplicated, and the fraction.
    """
    from ffn_polars_spark.operators.dedup import _hash64, shingles_from_tokens

    # distinct (doc, span-hash) is TOKEN-scale: ~16 B per token ~= 3x the
    # on-disk text bytes. Pin only when that fits the storage pool
    # (adaptive: the unconditional pin GC-thrashed an 8 GB heap at 5M docs
    # even longs-only); past the cap the two consumers re-derive instead.
    est = _token_scale_est(df)
    df = spread_scan(df, id_col)
    base = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    # the hash transform stays INSIDE the Generate's projection (round-6
    # rule: interpreted array builds belong in the explode itself)
    spans = pin(
        base.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    shingles_from_tokens(F.col("__toks"), width),
                    lambda sp: _hash64(sp, hash_fn),
                )
            ).alias("span"),
        ).distinct(),
        est,
    )
    dfreq = spans.groupBy("span").agg(F.count(F.lit(1)).alias("__nd"))
    return (
        spans.join(dfreq, "span")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.when(F.col("__nd") >= F.lit(int(min_docs)), 1).otherwise(0)
            ).alias("dup_spans"),
        )
        .select(
            F.col(id_col),
            "n_spans",
            "dup_spans",
            F.round(
                F.col("dup_spans") / F.col("n_spans").cast("double"), 6
            ).alias("dup_frac"),
        )
    )


@register(namespace="eod", kind="df", context="dataframe", alias="scrub_spans")
def scrub_spans(
    df: DataFrame,
    width: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Remove cross-document duplicated spans from the text — the *apply*
    step behind [[duplicate_spans]] (which only measures): substring-level
    deduplication in the spirit of ExactSubstr (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"), where a
    word is scrubbed when any ``width``-word window containing it occurs
    in ≥ ``min_docs`` distinct documents.

    Semantics: split on single spaces (exact, engine-replayable
    tokenization); a *span* is each consecutive ``width``-word window; a
    span is *duplicated* when ≥ ``min_docs`` distinct documents contain
    it; word position ``p`` is *covered* when a duplicated span starts at
    any position in ``[p-width+1, p]`` (every such span contains ``p``).
    Covered words are dropped and the remainder re-joined with single
    spaces — a document scrubbed to nothing yields ``text_clean = ''``.

    Plan shape (the 100 TB part): spans are built with ``width-1``
    ``lead()`` calls over one per-document window — no self-join, no
    re-tokenize per span; document frequency is a distinct + groupBy
    (linear in corpus tokens, map-side partial agg); the duplicated-span
    set joins back by span key (shuffle equi-join — the set is a small
    fraction of spans in real corpora); coverage is a windowed running
    ``max`` over the previous ``width-1`` rows, not an interval join.
    Nothing here is quadratic in documents or tokens.

    Returns ``(id, text_clean, n_words, n_removed)``.
    """
    from pyspark.sql.window import Window

    df = spread_scan(df, id_col)
    w = int(width)
    words = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"),
    )
    win = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.col("word")] + [F.lead("word", i).over(win) for i in range(1, w)]
    from ffn_polars_spark.operators.dedup import _hash64

    # spans exist only as a join key between the document-frequency pass
    # and the coverage flags — carry the 64-bit hash, not the width-word
    # string (value-identical up to a 2^-64 collision, mirrored by the
    # oracle; longs-only keeps corpus-scale state off the heap)
    span = F.when(
        F.lead("word", w - 1).over(win).isNotNull(),
        _hash64(F.concat_ws(" ", *leads), hash_fn),
    )
    spans = words.withColumn("__span", span)
    dup = (
        spans.where(F.col("__span").isNotNull())
        .select(id_col, "__span")
        .distinct()
        .groupBy("__span")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .where(F.col("__nd") >= F.lit(int(min_docs)))
        .select("__span", F.lit(1).alias("__dup"))
    )
    flagged = spans.join(dup, "__span", "left").select(
        F.col(id_col),
        "pos",
        "word",
        F.coalesce(F.col("__dup"), F.lit(0)).alias("__ds"),
    )
    cover_win = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(-(w - 1), 0)
    )
    covered = flagged.withColumn("__cov", F.max("__ds").over(cover_win))
    return (
        covered.groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.filter(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "word", "__cov"))
                        ),
                        lambda x: x["__cov"] == 0,
                    ),
                    lambda x: x["word"],
                ),
            ).alias("text_clean"),
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__cov").alias("n_removed"),
        )
        .select(id_col, "text_clean", "n_words", "n_removed")
    )


@register(namespace="eod", kind="df", context="dataframe", alias="tfidf_topterms")
def tfidf_topterms(
    df: DataFrame,
    m: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``m`` TF-IDF terms per document (keyword extraction for corpus
    curation: topical tags, near-template detection, domain routing).

    ``tfidf = tf · ln(N / df)`` — raw term frequency, unsmoothed inverse
    document frequency (a term in every document scores exactly 0). Ties
    break by term so the top-m set is deterministic.

    Shape: one (doc, term) count aggregate, a term-level df aggregate on
    its output (vocabulary-sized, not corpus-sized), a broadcast of the
    1-row corpus count, and a per-doc rank window over ≤ |distinct terms
    in doc| rows — nothing after the first aggregate scales with corpus
    token count.

    The (doc, term) aggregate is PINNED (``pins.pin`` — MEMORY_AND_DISK,
    released by the caller via ``release_pins``): Catalyst cannot reuse
    the exchange between the tf and df branches because column pruning
    rewrites the df branch's inner aggregate (count pruned → different
    canonical subtree), so without the pin both branches re-scan,
    re-tokenize, and re-shuffle the full corpus — measured 13.4 s vs
    5.8 s at sf1. The pinned frame is distinct (doc, term) pairs, far
    smaller than the token stream.
    """
    df = spread_scan(df, id_col)
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).where(F.col("term") != "")
    # unconditional pin, measured: the (doc, term) aggregate
    # dictionary-encodes in the columnar cache (term cardinality is
    # vocabulary-sized), so even the 5M-doc corpus pin fits an 8 GB heap
    # and beats the recompute path 120 s vs 148 s — unlike the
    # high-cardinality span-hash pin, which is heap-gated
    tf = pin(toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    n = df.select(F.count(F.lit(1)).alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("__n") / F.col("__df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w).cast("int")).where(
        F.col("rank") <= F.lit(int(m))
    )


@register(namespace="eod", kind="df", context="dataframe", alias="unigram_logprob")
def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus unigram
    model — the classic cheap perplexity proxy for training-data quality
    filtering (low score = typical text, high score = rare-token soup /
    boilerplate noise / wrong language).

    With MLE unigram probabilities ``p(t) = tf(t) / N`` the per-doc score
    factors as ``ln(N) - mean(ln tf(t))``, so no per-row division survives
    into the aggregate: one token-count aggregate, one shuffle join of the
    exploded tokens against the (vocabulary-sized) count table, one per-doc
    aggregate, and a broadcast of the 1-row corpus total.

    Scale: the token-frequency lookup is a shuffle *join* rather than a
    ``count(*) over (partition by token)`` window on purpose — AQE splits
    skewed join partitions (a hot token like "the" lands on one reducer
    otherwise), while window skew has no runtime mitigation. Everything
    downstream of the explode is keyed by token or doc — no corpus-sized
    broadcast, no driver collection. Documents with zero tokens
    (empty/whitespace text) have no defined score and are omitted.

    Returns ``(doc_id, n_tokens, neg_logprob)``.
    """
    df = spread_scan(df, id_col)
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    ).where(F.col("token") != "")
    tf = toks.groupBy("token").agg(F.count(F.lit(1)).alias("__tf"))
    # N = sum of the token frequencies: derived from the vocabulary-sized
    # tf frame, NOT a third corpus pass (the naive toks.count() re-ran the
    # tokenize+explode scan)
    n = tf.agg(F.sum("__tf").alias("__n"))
    per_doc = (
        toks.join(tf, "token")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log("__tf")).alias("__mean_ln_tf"),
        )
    )
    return per_doc.crossJoin(F.broadcast(n)).select(
        F.col(id_col),
        "n_tokens",
        F.round(F.log("__n") - F.col("__mean_ln_tf"), 6).alias("neg_logprob"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="corpus_rollup")
def corpus_rollup(
    df: DataFrame,
    group_cols: Sequence[str] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """Hierarchical corpus summary via ``ROLLUP``: one aggregate pass emits
    every prefix level — (source, lang), (source), and the grand total —
    the shape dataset cards and mixture dashboards want, without re-scanning
    the corpus once per level.

    ``grouping_id()`` disambiguates subtotal rows from genuine NULL group
    values (bit ``1`` = that column is rolled up), matching the SQL-standard
    ``GROUPING_ID`` bit order, so the output is safe to consume even when
    the grouping columns themselves contain NULLs.

    Scale: rollup is a single hash aggregate over ``levels+1`` grouping
    sets — Spark expands each input row once per grouping set *map-side*
    and partial-aggregates before the shuffle, so what crosses the wire is
    bounded by distinct group count, not corpus size.

    Returns ``(*group_cols, gid, n_docs, n_tokens, avg_chars)``.
    """
    df = spread_scan(df, text_col)
    gcols = list(group_cols)
    return (
        df.rollup(*gcols)
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count(F.col(text_col))).alias("n_tokens"),
            F.round(F.avg(F.length(text_col)), 6).alias("avg_chars"),
        )
        .select(*gcols, "gid", "n_docs", "n_tokens", "avg_chars")
    )


@register(namespace="eod", kind="df", context="dataframe", alias="chunk_documents")
def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split long documents into overlapping token-window chunks — the
    standard pre-training/RAG preparation step (sequence packing's
    upstream: every token lands in at least one chunk, consecutive chunks
    share ``overlap`` tokens so no span is ever cut without context).

    Chunk starts step by ``stride = chunk_tokens - overlap``; the last
    chunk is short rather than padded. Empty/whitespace-only documents
    produce no chunks.

    Scale: pure map-side work — tokenize, explode the (tiny, int-array)
    start offsets, slice, re-join. No shuffle at all; output rows ≈
    corpus_tokens / stride. The token array is STAGED in its own select
    while the explode generates only the integer start sequence — explode
    of an expensive staged expression re-evaluates it per output row (the
    Generate pathology pinned by ``test_doc_shingles_builds_array_once``);
    an int sequence is free to re-evaluate, and the sliced ``__toks``
    reference is a column read, not a rebuild.

    Returns ``(doc_id, chunk_id, chunk_text, chunk_tokens)``.
    """
    df = spread_scan(df, id_col)
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = int(chunk_tokens) - int(overlap)
    toks_expr = F.filter(tokens(F.col(text_col)), lambda t: t != "")
    staged = df.select(F.col(id_col), toks_expr.alias("__toks")).where(
        F.size("__toks") > 0
    )
    chunks = staged.select(
        id_col,
        "__toks",
        F.explode(
            F.sequence(F.lit(0), F.size("__toks") - 1, F.lit(stride))
        ).alias("__s"),
    )
    sliced = F.slice(F.col("__toks"), F.col("__s") + 1, int(chunk_tokens))
    return chunks.select(
        F.col(id_col),
        (F.col("__s") / F.lit(stride)).cast("int").alias("chunk_id"),
        F.array_join(sliced, " ").alias("chunk_text"),
        F.size(sliced).cast("int").alias("chunk_tokens"),
    )


def doc_bigram_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """In-document (prev, token) adjacency pairs: tokenize, posexplode,
    per-doc lag window — the measured-fastest pair build (see
    bigram_logprob's docstring for why the in-row variants lose).
    Returns ``(id, prev, token)``, one row per bigram occurrence."""
    df = spread_scan(df, id_col)
    from pyspark.sql.window import Window

    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(tokens(F.col(text_col)), lambda t: t != "")
        ).alias("pos", "token"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    return toks.select(
        F.col(id_col),
        F.lag("token").over(w).alias("prev"),
        "token",
    ).where(F.col("prev").isNotNull())


@register(namespace="eod", kind="df", context="dataframe", alias="bigram_logprob")
def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus BIGRAM
    model with MLE conditionals ``p(t | prev) = c(prev, t) / c_left(prev)``
    — the sharper companion to :func:`unigram_logprob` (word salad scores
    high here even when its unigrams are common; ``c_left`` counts
    ``prev``'s occurrences as a bigram left context, i.e. excluding
    document-final positions, so the conditionals sum to 1).

    Shape: tokenize once, posexplode, build (prev, token) pairs with a
    per-doc lag window, then one bigram-count aggregate, a left-context
    aggregate derived from it, and a pair-keyed join back — everything
    after the first aggregate is bigram-vocabulary-sized. Documents with
    fewer than 2 tokens have no bigrams and are omitted.

    Why a window and not an in-row ``zip_with``/``element_at`` pair build:
    both in-row variants were MEASURED SLOWER at sf1 (10.5 s and 7.8 s vs
    3.5 s) — CollapseProject duplicates the interpreted token-array build
    into every expression that references it (6 occurrences in their
    optimized plans vs 3 here), so the "avoid the shuffle" shapes pay the
    regex split multiple times per row while the window pays one doc-keyed
    exchange of token rows. The opposite trade-off from the Generate
    pathology cases (``_doc_shingles``, the embedding oracle views) —
    always measure.

    Returns ``(doc_id, n_bigrams, neg_logprob)``.
    """
    pairs = doc_bigram_pairs(df, text_col, id_col)
    bc = pairs.groupBy("prev", "token").agg(F.count(F.lit(1)).alias("__c"))
    left = bc.groupBy("prev").agg(F.sum("__c").alias("__cl"))
    # join the two VOCAB-sized count tables first into one (prev, token)
    # logprob lookup, then join the corpus-sized pairs frame ONCE: the old
    # pairs⋈bc⋈left chain reshuffled the big pairs frame a second time on
    # `prev` (the plan audit's one avoidable data-sized exchange here).
    # log(c/cl) per DISTINCT bigram instead of per occurrence is the same
    # value and strictly less work.
    lookup = bc.join(left, "prev").select(
        "prev", "token", F.log(F.col("__c") / F.col("__cl")).alias("__lp")
    )
    scored = pairs.join(lookup, ["prev", "token"])
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(-F.avg(F.col("__lp")), 6).alias("neg_logprob"),
        )
    )


@register(namespace="eod", kind="df", context="dataframe", alias="pmi_collocations")
def pmi_collocations(
    df: DataFrame,
    k: int = 50,
    min_count: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` collocations by pointwise mutual information:
    ``PMI(a, b) = ln( c(a,b) · N / (c_left(a) · c_right(b)) )`` over
    adjacent token pairs — the phrase detector ("new york", "machine
    learning") behind vocabulary merging and template discovery;
    ``min_count`` suppresses the classic PMI pathology of one-off pairs
    scoring highest.

    Shape: the shared bigram pair build, one (a, b) count aggregate, two
    marginal aggregates derived from it (bigram-vocabulary-sized), a
    broadcast of the 1-row total, and a TakeOrderedAndProject top-k —
    ties break by the pair so the cut is deterministic.

    Returns ``(prev, token, n, pmi)``.
    """
    pairs = doc_bigram_pairs(df, text_col, id_col)
    bc = pairs.groupBy("prev", "token").agg(F.count(F.lit(1)).alias("n"))
    # PIN the filtered bigram-count table: four branches (both marginals,
    # the total, and the scored join) read it, and each would otherwise
    # re-run the CORPUS-sized pair aggregate (the r11 plan audit's finding
    # here — 3 extra table scans). Usually vocabulary-sized and
    # dictionary-encodable (the same measured trade as tfidf's pin) — but
    # at min_count=1 on id-like text the distinct-bigram count approaches
    # the TOKEN count, so the pin is heap-gated like scrub_spans' span
    # pin: est ≈ 3x the on-disk text bytes bounds the worst case (two
    # dictionary-encoded terms + a long per bigram ≈ token-scale); past
    # the cap the four consumers re-derive instead of GC-thrashing.
    bc = pin(
        bc.where(F.col("n") >= F.lit(int(min_count))), _token_scale_est(df)
    )
    left = bc.groupBy("prev").agg(F.sum("n").alias("__cl"))
    right = bc.groupBy("token").agg(F.sum("n").alias("__cr"))
    tot = bc.agg(F.sum("n").alias("__N"))
    scored = (
        bc.join(left, "prev")
        .join(right, "token")
        .crossJoin(F.broadcast(tot))
        .select(
            "prev",
            "token",
            "n",
            F.round(
                F.log(
                    F.col("n") * F.col("__N") / (F.col("__cl") * F.col("__cr"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("prev"), F.asc("token")
    ).limit(int(k))


@register(namespace="eod", kind="df", context="dataframe", alias="zipf_slope")
def zipf_slope(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Zipf-law fit of the corpus vocabulary: the OLS slope of
    ``ln(frequency)`` on ``ln(rank)`` — a healthy natural-language corpus
    sits near −1; templated/duplicated text flattens the head (slope → 0)
    and OCR noise fattens the tail. A one-number corpus-health gate to
    monitor across ingestion batches alongside [[corpus_stats]].

    Vocabulary counts come from one tokenize-explode-groupBy pass. Rank is
    assigned with the *distributed* global-ranking idiom, never a
    single-partition window (a 10⁸-term vocabulary would serialize
    there): rank is ``core.ranged_cumsum`` of ones in (count desc, token)
    order — range-repartition, per-partition windowed count, broadcast
    per-partition offsets. Range boundaries are sampled, but the total
    order — and hence every rank and the fitted slope — is determined
    solely by (count desc, token), so the result is identical on any
    cluster shape and engine-replayable. Ties broken by token keep rank
    assignment exact. Slope/intercept from the
    closed-form moments (``cov/var``), NULL when the vocabulary has < 2
    distinct ranks.

    Returns one row: ``(zipf_slope, zipf_intercept, r2, vocab_size)``.
    """
    df = spread_scan(df, text_col)
    from ffn_polars_spark.core import ranged_cumsum

    vocab = (
        df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__f"))
    )
    # global rank = distributed cumulative count of ones in (freq desc,
    # token) order; ranged_cumsum pins the sorted vocabulary so its
    # offsets pass and the moment pass share one materialization
    ranked = ranged_cumsum(
        vocab,
        [F.col("__f").desc(), F.col("tok").asc()],
        {"__rank": F.lit(1)},
    ).select(
        F.log(F.col("__f").cast("double")).alias("__lf"),
        F.log(F.col("__rank").cast("double")).alias("__lr"),
    )
    cov = F.covar_samp("__lr", "__lf")
    varr = F.var_samp("__lr")
    # guarded-moment r2, not F.corr: a corpus where every token has the
    # SAME count (e.g. all tokens unique -> all log-freqs 0) makes the
    # frequency side constant, and F.corr's internal division throws an
    # ANSI DIVIDE_BY_ZERO instead of yielding NULL (r13 corr-audit find)
    den = F.stddev_samp("__lr") * F.stddev_samp("__lf")
    corr = F.when(den > 0, cov / den)
    slope = F.when(varr > 0, cov / varr)
    return ranked.agg(
        slope.alias("zipf_slope"),
        (F.avg("__lf") - slope * F.avg("__lr")).alias("zipf_intercept"),
        (corr * corr).alias("r2"),
        F.count(F.lit(1)).alias("vocab_size"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="doc_entropy")
def doc_entropy(
    df: DataFrame,
    unit: str = "word",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy of the token (``unit="word"``) or
    character (``unit="char"``) distribution, in nats — the
    repetitiveness/noise filter from the Gopher-rules family: templated
    or looping text scores low word entropy, binary-ish noise scores
    anomalously high char entropy. Use alongside [[text_quality]] and
    [[repetition_stats]] in a [[clean_corpus]]-style gate.

    Computed from the count identity ``H = ln(N) − Σ c·ln(c) / N`` so a
    single (doc, unit) aggregate plus one per-doc aggregate suffice — no
    per-doc normalization join. Explode rows are corpus-linear and the
    first groupBy partial-aggregates map-side; both shuffles key on the
    document, so the plan is skew-safe for ordinary document sizes.

    Returns ``(id, entropy, n_units, n_distinct)``; empty documents are
    absent (no units to measure).
    """
    df = spread_scan(df, id_col)
    if unit == "word":
        parts = F.explode(tokens(F.col(text_col)))
    elif unit == "char":
        parts = F.explode(F.split(F.col(text_col), ""))
    else:
        raise ValueError(f"unit must be 'word' or 'char', got {unit!r}")
    u = (
        df.select(F.col(id_col), parts.alias("__u"))
        .where(F.col("__u") != "")
        .groupBy(id_col, "__u")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    c = F.col("__c").cast("double")
    return u.groupBy(id_col).agg(
        (
            F.log(F.sum(c)) - F.sum(c * F.log(c)) / F.sum(c)
        ).alias("entropy"),
        F.sum("__c").alias("n_units"),
        F.count(F.lit(1)).alias("n_distinct"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="vocab_jsd")
def vocab_jsd(
    df: DataFrame,
    side_col: str,
    a: str,
    b: str,
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence (nats) between the unigram distributions
    of two document populations — the vocabulary-drift companion to
    [[ks_drift]]'s numeric drift: 0 for identical token distributions,
    ``ln 2`` for disjoint vocabularies. The standard "did this crawl
    batch / source shift what the model will read?" gate, symmetric and
    bounded unlike raw KL.

    ``JSD = 0.5·KL(p‖m) + 0.5·KL(q‖m)`` with ``m = (p+q)/2``, summed over
    the vocabulary union with the ``0·ln 0 = 0`` convention. One
    tokenize-explode pass into a (token) aggregate carrying both sides'
    counts (map-side partial agg bounds the shuffle at vocabulary
    cardinality), one tiny totals row broadcast back, one final sum — no
    join keyed on anything data-sized.

    Returns one row: ``(jsd, n_tokens_a, n_tokens_b, vocab_union)``.
    """
    side = F.col(side_col)
    counts = (
        df.where(side.isin(a, b))
        .select(side.alias("__s"), F.explode(tokens(F.col(text_col))).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(
            F.sum(F.when(F.col("__s") == a, 1).otherwise(0)).alias("__ca"),
            F.sum(F.when(F.col("__s") == b, 1).otherwise(0)).alias("__cb"),
        )
    )
    # PIN the vocab-sided counts: the totals branch re-ran the corpus
    # tokenize+aggregate (r11 plan audit). Vocabulary-sized longs — the
    # tfidf measured-pin precedent; a single-partition window would hold
    # the whole vocabulary in one task, so the pin is the scale-safe form.
    counts = pin(counts)
    tot = counts.agg(
        F.sum("__ca").alias("__na"), F.sum("__cb").alias("__nb")
    )
    j = counts.crossJoin(F.broadcast(tot))
    # an empty side (zero tokens) has no distribution: NULL share -> the
    # p>0 / q>0 branches fall through to the 0.0 coalesce instead of the
    # bare division throwing an ANSI DIVIDE_BY_ZERO (same class as
    # ks_drift's empty-side guard)
    p = F.when(F.col("__na") > 0, F.col("__ca") / F.col("__na").cast("double"))
    q = F.when(F.col("__nb") > 0, F.col("__cb") / F.col("__nb").cast("double"))
    m = (p + q) / F.lit(2.0)
    term = F.coalesce(
        F.when(p > 0, F.lit(0.5) * p * F.log(p / m)), F.lit(0.0)
    ) + F.coalesce(F.when(q > 0, F.lit(0.5) * q * F.log(q / m)), F.lit(0.0))
    return j.agg(
        F.when(
            (F.min("__na") > 0) & (F.min("__nb") > 0), F.sum(term)
        ).alias("jsd"),
        F.first("__na").alias("n_tokens_a"),
        F.first("__nb").alias("n_tokens_b"),
        F.count(F.lit(1)).alias("vocab_union"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="oov_rate")
def oov_rate(
    df: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    by: str = "source",
) -> DataFrame:
    """Out-of-vocabulary rate per group against the corpus's own top-k
    vocabulary — the tokenizer-coverage screen: a source whose tokens
    fall outside the shared vocabulary is drifting (new language, markup,
    encoding damage) and will fragment downstream BPE merges.

    One tokenize-explode feeds BOTH sides: per-(group, token) counts are
    the working set (bounded by vocabulary x groups, not corpus size),
    the global vocabulary is their re-aggregate taken via
    ``TakeOrderedAndProject`` (per-partition top-k, no global sort, ties
    broken ``(freq desc, token asc)``), and the membership join
    broadcasts the k-row vocabulary. Returns
    ``(by, n_tokens, oov_tokens, oov_rate)``.
    """
    df = spread_scan(df, text_col)
    toks = df.select(
        F.col(by), F.explode(tokens(F.col(text_col))).alias("token")
    ).where(F.col("token") != "")
    per = toks.groupBy(by, "token").agg(F.count(F.lit(1)).alias("__tf"))
    gtf = per.groupBy("token").agg(F.sum("__tf").alias("__gtf"))
    vocab = (
        gtf.orderBy(F.desc("__gtf"), F.asc("token"))
        .limit(int(vocab_size))
        .select("token", F.lit(1).alias("__in"))
    )
    j = per.join(F.broadcast(vocab), "token", "left")
    oov = F.sum(F.when(F.col("__in").isNull(), F.col("__tf")).otherwise(F.lit(0)))
    total = F.sum("__tf")
    return j.groupBy(by).agg(
        total.alias("n_tokens"),
        oov.alias("oov_tokens"),
        (oov.cast("double") / total.cast("double")).alias("oov_rate"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="sentence_stats")
def sentence_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document sentence-shape profile: sentence count, mean and max
    words per sentence — the readability/structure signal quality
    classifiers lean on (machine-generated and boilerplate text skews to
    degenerate sentence-length distributions). A sentence is a
    ``[.!?]+``-delimited fragment containing at least one word token, so
    stray punctuation runs never count.

    Pure in-row projection — no explode, no shuffle; the scan is the
    plan. The words-per-sentence array is STAGED in a first projection:
    its five downstream references (size ×3 via the when-guards, the
    sum fold, array_max) are interpreted HOFs with no CSE, so building
    it inline re-ran the sentence+word tokenization per reference.
    Returns ``(id, n_sentences, avg_sentence_words, max_sentence_words)``.
    """
    df = spread_scan(df, id_col)
    wp_all = F.transform(
        F.split(F.col(text_col), r"[.!?]+"),
        lambda s: F.size(
            F.filter(F.split(s, r"\s+"), lambda t: t != F.lit(""))
        ),
    )
    staged = df.select(
        F.col(id_col),
        F.filter(wp_all, lambda c: c > F.lit(0)).alias("__wp"),
    )
    wp = F.col("__wp")
    n = F.size(wp)
    total = F.aggregate(
        wp, F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
    )
    return staged.select(
        F.col(id_col),
        n.cast("long").alias("n_sentences"),
        F.when(n > 0, total.cast("double") / n.cast("double")).alias(
            "avg_sentence_words"
        ),
        F.when(n > 0, F.array_max(wp)).cast("long").alias(
            "max_sentence_words"
        ),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="strip_markup")
def strip_markup(
    df: DataFrame, text_col: str = "text", out_col: str = "clean_text"
) -> DataFrame:
    """Markup stripping for scraped corpora: drop ``<...>`` tags, decode
    the common HTML entities, collapse whitespace runs to single spaces,
    and trim — the canonical first stage before any text scoring (tags
    and entity noise poison tokenization, dedup shingles, and language
    ID alike).

    Pure in-row ``regexp_replace``/``replace`` chain — zero shuffle, the
    scan is the plan; patterns are deliberately simple enough to behave
    identically across regex engines (verified against DuckDB's RE2).
    Returns the input columns plus ``out_col``.
    """
    df = spread_scan(df, text_col)
    c = F.col(text_col)
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    # &amp; decodes LAST so "&amp;lt;" yields the literal "&lt;", not "<"
    for ent, ch in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return df.select("*", c.alias(out_col))


@register(namespace="eod", kind="df", context="dataframe", alias="luhn_validate")
def luhn_validate(
    df: DataFrame,
    candidate_col: str,
) -> DataFrame:
    """Luhn mod-10 checksum validation of digit-string candidates — the
    precision filter a PII pipeline runs after [[pii_scrub]]-style regex
    extraction: a 16-digit regex hit is only treated as a card number if
    the check digit verifies, cutting false redactions ~10×. Pure JVM
    expression arithmetic (per-position doubling from the right via an
    indexed ``transform`` + ``aggregate``), no UDF, trivially replayable
    in any engine with string indexing.

    Adds ``luhn_valid`` (NULL for candidates with non-digit characters
    or fewer than 2 digits).
    """
    df = spread_scan(df, candidate_col)
    c = F.col(candidate_col)
    n = F.length(c)
    digits_ok = c.rlike("^[0-9]{2,}$")
    # position p (1-based from the LEFT); from the right: r = n - p, doubled
    # when r is odd (Luhn doubles every second digit from the check digit)
    term = lambda p: (
        F.when(
            ((n - p) % 2) == 1,
            F.when(
                (F.ascii(F.substr(c, p, F.lit(1))) - 48) > 4,
                (F.ascii(F.substr(c, p, F.lit(1))) - 48) * 2 - 9,
            ).otherwise((F.ascii(F.substr(c, p, F.lit(1))) - 48) * 2),
        ).otherwise(F.ascii(F.substr(c, p, F.lit(1))) - 48)
    )
    total = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0),
        lambda acc, p: acc + term(p),
    )
    return df.withColumn(
        "luhn_valid", F.when(digits_ok, (total % 10) == 0)
    )


@register(namespace="eod", kind="df", context="dataframe", alias="doc_perplexity")
def doc_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document unigram cross-entropy against the corpus's own
    add-one-smoothed unigram LM: ``H(doc) = −Σ ln p(w) / len`` with
    ``p(w) = (c(w)+1)/(N+V)`` — the self-perplexity gibberish screen
    (documents whose word distribution fights the corpus score high),
    the per-document companion to the corpus-level [[unigram_logprob]].

    One exploded-token aggregate builds the vocabulary frame (corpus
    scan #1), the same exploded frame joins it back per token (the
    vocabulary side shuffles at vocab cardinality; AQE broadcasts small
    vocabularies), one per-doc aggregate. Empty documents get NULL.
    Returns ``(id, n_tokens, cross_entropy, perplexity)``."""
    df = spread_scan(df, id_col)
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("__w")
    ).where(F.col("__w") != "")
    # PIN the vocabulary counts: both the totals branch and the per-token
    # scoring join read them, and each would otherwise re-run the
    # corpus-sized tokenize+aggregate (r11 plan audit: 3 corpus scans
    # down to 2 — the scoring join's own toks scan remains, by design).
    vocab = pin(toks.groupBy("__w").agg(F.count(F.lit(1)).alias("__c")))
    totals = vocab.agg(
        F.sum("__c").alias("__N"), F.count(F.lit(1)).alias("__V")
    )
    scored = (
        toks.join(vocab, "__w")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            F.log(
                (F.col("__c") + F.lit(1)).cast("double")
                / (F.col("__N") + F.col("__V")).cast("double")
            ).alias("__lp"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (-F.sum("__lp") / F.count(F.lit(1)).cast("double")).alias(
            "cross_entropy"
        ),
    )
    return agg.select(
        id_col,
        "n_tokens",
        "cross_entropy",
        F.exp(F.col("cross_entropy")).alias("perplexity"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="flesch_readability")
def flesch_readability(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease per document:
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`` with
    the classic proxies — words are whitespace tokens, sentences are
    ``[.!?]+``-delimited fragments containing at least one word (shared
    with [[sentence_stats]], so the two never disagree), and syllables
    are vowel-run counts (``[aeiouyAEIOUY]+``; whitespace breaks runs,
    so the document-level count equals the per-word sum without ever
    splitting). The graded-readability signal quality classifiers use
    beside [[text_quality]]'s ratio features.

    Pure in-row projection — no explode, no shuffle; the parquet scan is
    the whole plan. The three counts are STAGED in a first projection:
    ``words`` alone has four downstream references (n_words, the score's
    two ratios, the null guard) and each inline reference re-ran its
    tokenize (10 splits in the unstaged plan — the round-8 audit class).
    Counts are exact longs; NULL score when a document has no words or
    no sentences. Returns ``(id, n_words, n_sentences, n_syllables,
    flesch)``.
    """
    df = spread_scan(df, id_col)
    text = F.col(text_col)
    words = F.size(F.filter(F.split(text, r"\s+"), lambda t: t != F.lit("")))
    sentences = F.size(
        F.filter(
            F.split(text, r"[.!?]+"),
            lambda s: F.size(
                F.filter(F.split(s, r"\s+"), lambda t: t != F.lit(""))
            )
            > F.lit(0),
        )
    )
    syllables = F.size(F.regexp_extract_all(text, F.lit(r"[aeiouyAEIOUY]+"), F.lit(0)))
    staged = df.select(
        F.col(id_col),
        words.alias("__w"),
        sentences.alias("__s"),
        syllables.alias("__y"),
    )
    w, s, y = F.col("__w"), F.col("__s"), F.col("__y")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (w.cast("double") / s.cast("double"))
        - F.lit(84.6) * (y.cast("double") / w.cast("double"))
    )
    return staged.select(
        F.col(id_col),
        w.cast("long").alias("n_words"),
        s.cast("long").alias("n_sentences"),
        y.cast("long").alias("n_syllables"),
        F.when((w > 0) & (s > 0), score).alias("flesch"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="heaps_law")
def heaps_law(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: accumulate the corpus in
    ``id_col`` order, track cumulative token count ``N`` and cumulative
    DISTINCT-type count ``V``, and fit ``V ≈ k·N^β`` by OLS on
    ``(ln N, ln V)`` — the sublinearity exponent β (~0.4–0.6 for
    natural language) that sizes vocabularies and, with [[zipf_slope]]
    (the frequency side of the same phenomenon), fingerprints
    machine-generated or template-heavy corpora (β near 0: a looping
    vocabulary; near 1: id-like noise).

    The "new types per document" frame comes from one distinct
    (token → min doc) aggregate — each type counts exactly once, at
    its first document — and both cumulatives run through
    ``core.ranged_cumsum`` (the distributed global-cumsum idiom), so
    nothing ever sees a single-partition window. The OLS is one
    closed-form moment aggregate over the doc-cardinality frame.
    Returns one row: ``(beta, k, n_docs, total_tokens, vocab)``.
    """
    df = spread_scan(df, id_col)
    from ffn_polars_spark.core import ranged_cumsum

    toks = F.filter(tokens(F.col(text_col)), lambda t: t != F.lit(""))
    base = df.select(
        F.col(id_col).alias("__d"), toks.alias("__toks")
    )
    per_doc = base.select(
        "__d", F.size("__toks").cast("long").alias("__nt")
    )
    first_seen = (
        base.select("__d", F.explode(F.array_distinct("__toks")).alias("__t"))
        .groupBy("__t")
        .agg(F.min("__d").alias("__d"))
        .groupBy("__d")
        .agg(F.count(F.lit(1)).cast("long").alias("__nv"))
    )
    docs = per_doc.join(first_seen, "__d", "left").fillna(0, subset=["__nv"])
    cum, totals = ranged_cumsum(
        docs,
        ["__d"],
        {"__N": F.col("__nt"), "__V": F.col("__nv")},
        return_totals=True,
    )
    pts = cum.where((F.col("__N") > 0) & (F.col("__V") > 0)).select(
        F.log("__N").alias("__x"), F.log("__V").alias("__y")
    )
    agg = pts.agg(
        F.covar_pop("__x", "__y").alias("__cxy"),
        F.var_pop("__x").alias("__vx"),
        F.avg("__x").alias("__mx"),
        F.avg("__y").alias("__my"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    # per-doc increments are non-negative, so the cumsum maxima ARE the
    # grand totals — which ranged_cumsum's offsets pass already computed
    # driver-side: a second full aggregate over `cum` + crossJoin was the
    # plan audit's avoidable exchange pair here (r11). Empty input keeps
    # the pre-r11 degenerate contract: totals come back None and the
    # literals stay NULL (matching the old max-over-empty semantics),
    # never a fabricated 0.
    def _long_lit(v):
        return (F.lit(int(v)) if v is not None else F.lit(None)).cast("long")

    beta = F.when(F.col("__vx") > 0, F.col("__cxy") / F.col("__vx"))
    return agg.select(
        beta.alias("beta"),
        F.exp(F.col("__my") - beta * F.col("__mx")).alias("k"),
        "n_docs",
        _long_lit(totals["__N"]).alias("total_tokens"),
        _long_lit(totals["__V"]).alias("vocab"),
    )
