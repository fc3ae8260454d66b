"""Composed training-data cleaning pipeline.

The end-to-end shape a pre-training data pipeline runs over a raw corpus:
language filter → quality filter → exact dedup → keep/drop decision — here
as ONE operator whose plan is a single map-side projection (quality metrics,
language vote, and content fingerprint all computed in the same pass over
``text``) followed by a single fingerprint aggregate joined back. At 100 TB
that is one scan and one hash shuffle; composing the standalone operators
(`text_quality` + `language_id` + `dedup_exact`) naively would scan the
corpus three times and join three derived tables on doc id.

Near-dup stages (MinHash / SimHash / embedding LSH) intentionally stay
separate: they need their own shuffles anyway, so chaining them after
``clean_corpus``'s survivors loses nothing and runs them on the (much
smaller) kept set.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ffn_polars_spark.operators.dedup import normalized_text
from ffn_polars_spark.operators.text import (
    _quality_features,
    language_vote,
    token_count,
    tokens,
)
from ffn_polars_spark.pins import pin
from ffn_polars_spark.registry import register


@register(namespace="eod", kind="df", context="dataframe", alias="clean_corpus")
def clean_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    languages: Sequence[str] = ("en",),
    min_quality: float = 0.5,
) -> DataFrame:
    """Per-document keep/drop decision for corpus cleaning.

    Returns ``(id, lang_pred, quality_score, canonical_id, is_duplicate,
    keep)`` where ``keep`` = language in ``languages`` AND quality ≥
    ``min_quality`` AND the document is its group's canonical copy (min id
    per exact-content fingerprint). Every document appears in the output
    with its decision — the caller filters on ``keep`` (auditable drops).

    Plan: a first projection stages the token array ONCE (the quality
    features and the 4-language vote are interpreted higher-order functions
    with no common-subexpression elimination — building them from the raw
    text column re-ran the regex split 15× per row, measured 2.9× slower
    at sf0.1); a second projection computes all features + the md5
    fingerprint over the staged attribute. The only shuffle is the
    fingerprint groupBy (min-id per group, joined back — AQE broadcasts it
    when the duplicate-group table is small).
    """
    from ffn_polars_spark.operators._scanmeta import spread_scan

    df = spread_scan(df, id_col)
    t = F.col(text_col)
    staged = df.select(F.col(id_col), t.alias("__txt"), tokens(t).alias("__toks"))
    txt, toks = F.col("__txt"), F.col("__toks")
    score = _quality_features(txt, toks)["quality_score"]

    from pyspark.sql.window import Window

    # Canonical-id via a WINDOW over the fingerprint partition (r13): the
    # old groupBy+join-back needed the feature frame pinned (two branches
    # re-derived every text feature otherwise — round-8 plan audit) and
    # shuffled it for the aggregate and the join; min-over-window is ONE
    # hash exchange on __fp, no pin, no join (guide §2.4). Measured at
    # sf0.1: 1.05 s → ~0.65 s, outputs identical (the explicit NOT NULL
    # filter reproduces the inner join's null-key drop on NULL text).
    base = staged.select(
        F.col(id_col),
        language_vote(txt, toks=toks).getField("lang").alias("lang_pred"),
        F.round(score, 6).alias("quality_score"),
        F.md5(normalized_text(txt)).alias("__fp"),
    ).where(F.col("__fp").isNotNull())
    w_fp = Window.partitionBy("__fp")
    out = base.withColumn("canonical_id", F.min(id_col).over(w_fp)).select(
        id_col,
        "lang_pred",
        "quality_score",
        "canonical_id",
        (F.col(id_col) != F.col("canonical_id")).alias("is_duplicate"),
    )
    lang_ok = F.col("lang_pred").isin(*[str(x) for x in languages])
    return out.withColumn(
        "keep",
        lang_ok
        & (F.col("quality_score") >= F.lit(float(min_quality)))
        & ~F.col("is_duplicate"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="deterministic_split")
def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: Optional[dict] = None,
    buckets: int = 10_000,
    salt: str = "",
) -> DataFrame:
    """Stable train/val/test assignment by content-independent id hash.

    ``bucket = int(md5(str(id) || salt)[:8], 16) % buckets``; cumulative
    weight cutoffs over the bucket space pick the split. Properties a
    training pipeline needs: (1) deterministic — re-runs, engine changes,
    and partitioning changes can't move a document between splits; (2)
    incremental — new documents don't reshuffle old assignments; (3)
    engine-portable — md5-of-string is identical everywhere, so holdout
    membership can be recomputed outside Spark. ``salt`` re-rolls the
    assignment without touching the data.

    Pure map-side projection: zero shuffle at any scale.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = float(sum(weights.values()))
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8),
        16,
        10,
    ).cast("long")
    bucket = h % F.lit(buckets)
    expr, cum = None, 0.0
    names = list(weights)
    for name in names[:-1]:
        cum += weights[name] / total
        cut = int(round(cum * buckets))
        cond = bucket < F.lit(cut)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = (expr.otherwise if expr is not None else F.lit)(names[-1])
    return df.withColumn("bucket", bucket).withColumn("split", expr)


def _hash_bucket(id_col: str, salt: str, buckets: int):
    """The engine-portable sampling bucket shared by every sampling op in
    this module: ``int(md5(str(id) || salt)[:8], 16) % buckets``.  md5 of a
    string is bit-identical in every engine, so holdout / sample membership
    is reproducible outside Spark (the DuckDB oracles recompute it)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8),
        16,
        10,
    ).cast("long")
    return h % F.lit(buckets)


def _rate_cutoff(rate_col, buckets: int):
    """keep-cutoff for a [0,1] rate over the bucket space; the floor(x*B+0.5)
    form is the same explicit rounding the r6 convention uses, so both
    engines compute the identical integer cutoff from the identical double."""
    return F.floor(rate_col * F.lit(float(buckets)) + F.lit(0.5)).cast("long")


@register(namespace="eod", kind="df", context="dataframe", alias="stratified_sample")
def stratified_sample(
    df: DataFrame,
    rates: dict,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    default_rate: float = 1.0,
    buckets: int = 10_000,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum downsampling (corpus rebalancing).

    ``rates`` maps stratum value → keep fraction in [0, 1]; strata absent
    from the map use ``default_rate``.  A document is kept iff its
    content-independent hash bucket falls below ``round(rate * buckets)`` —
    the same md5 bucket as :func:`deterministic_split`, so sampling is (1)
    stable under re-runs and repartitioning, (2) incremental (new documents
    never flip old decisions), and (3) nested: lowering a stratum's rate
    keeps a strict subset of the previous sample.

    Pure map-side projection — zero shuffle at any scale.  Every document
    appears in the output with its ``keep`` decision (auditable drops).
    """
    bucket = _hash_bucket(id_col, salt, buckets)
    rate_expr = None
    for key, val in rates.items():
        cond = F.col(stratum_col) == F.lit(str(key))
        rate_expr = (
            F.when(cond, F.lit(float(val)))
            if rate_expr is None
            else rate_expr.when(cond, F.lit(float(val)))
        )
    rate = (
        rate_expr.otherwise(F.lit(float(default_rate)))
        if rate_expr is not None
        else F.lit(float(default_rate))
    )
    return df.select(
        F.col(id_col),
        F.col(stratum_col),
        bucket.alias("bucket"),
        rate.alias("rate"),
        (bucket < _rate_cutoff(rate, buckets)).alias("keep"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="domain_mix")
def domain_mix(
    df: DataFrame,
    targets: dict,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    default_target: float = 0.0,
    buckets: int = 10_000,
    salt: str = "",
) -> DataFrame:
    """Rebalance a corpus toward a target domain mixture without upsampling.

    ``targets`` maps domain → relative target weight (them summing to 1 is
    not required).  The achievable mixture keeps every document of the
    scarcest-relative-to-target domain and downsamples the rest:
    ``scale = min_d(n_d / t_d)``, ``rate_d = scale * t_d / n_d`` — expected
    kept counts are then exactly proportional to ``targets`` (the DoReMi /
    Pile-style domain reweighting step, sampling-only variant).

    Plan: one tiny per-domain count aggregate, a 1-row global min folded in
    by cross join, broadcast-joined back to the corpus; the keep decision is
    the same portable md5-bucket rule as :func:`stratified_sample`.  At
    100 TB the only full-data shuffle-free pass is the final projection —
    domain cardinality (the aggregated side) is assumed small.
    """
    tgt_expr = None
    for key, val in targets.items():
        cond = F.col(stratum_col) == F.lit(str(key))
        tgt_expr = (
            F.when(cond, F.lit(float(val)))
            if tgt_expr is None
            else tgt_expr.when(cond, F.lit(float(val)))
        )
    tgt = (
        tgt_expr.otherwise(F.lit(float(default_target)))
        if tgt_expr is not None
        else F.lit(float(default_target))
    )

    counts = df.groupBy(F.col(stratum_col)).agg(F.count(F.lit(1)).alias("n_docs"))
    counts = counts.withColumn("target_w", tgt)
    scale = counts.where(F.col("target_w") > 0).agg(
        F.min(F.col("n_docs").cast("double") / F.col("target_w")).alias("__scale")
    )
    # rate = round6((scale * t) / n), clamped to [0, 1]; the explicit r6-style
    # rounding pins the double BEFORE the cutoff so both engines derive the
    # identical integer cutoff.
    raw = (F.col("__scale") * F.col("target_w")) / F.col("n_docs").cast("double")
    rate6 = F.floor(F.least(raw, F.lit(1.0)) * F.lit(1000000.0) + F.lit(0.5)) / F.lit(
        1000000.0
    )
    rates = counts.crossJoin(F.broadcast(scale)).select(
        F.col(stratum_col),
        "n_docs",
        "target_w",
        F.when(F.col("target_w") > 0, rate6).otherwise(F.lit(0.0)).alias("rate"),
    )
    bucket = _hash_bucket(id_col, salt, buckets)
    return (
        df.select(F.col(id_col), F.col(stratum_col), bucket.alias("bucket"))
        .join(F.broadcast(rates), stratum_col)
        .select(
            id_col,
            stratum_col,
            "bucket",
            "n_docs",
            "rate",
            (F.col("bucket") < _rate_cutoff(F.col("rate"), buckets)).alias("keep"),
        )
    )


@register(namespace="eod", kind="df", context="dataframe", alias="shard_by_tokens")
def shard_by_tokens(
    df: DataFrame,
    budget: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pack documents into token-budget shards in ``id_col`` order.

    ``shard_id = floor(exclusive_prefix_sum(tokens) / budget)`` — the
    deterministic sharding a pre-training pipeline uses to cut a corpus into
    ~equal-token output files. The prefix sum is the un-keyed blocked
    cumsum (``core.blocked_keyed_cumsum`` with no keys): rows slice into
    equal-width ``id_col`` ranges (one min/max job), per-slice running sums
    run in parallel, and only the tiny per-slice totals pass through a
    global window — an un-keyed ``sum().over(Window.orderBy)`` would funnel
    the full corpus through ONE partition, the classic scale cliff at
    100 TB. Integer token sums are exact however the rows are sliced.
    ``id_col`` must be an integer, timestamp or date column.

    Returns ``(id, n_tokens, shard_id)``; exclusive prefix sum means a
    document larger than ``budget`` still lands in exactly one shard.
    """
    from ffn_polars_spark.core import blocked_keyed_cumsum
    from ffn_polars_spark.operators._scanmeta import spread_scan

    df = spread_scan(df, id_col)
    t = df.select(
        F.col(id_col), token_count(F.col(text_col)).cast("long").alias("n_tokens")
    )
    c = blocked_keyed_cumsum(t, [], [id_col], {"__cum": "n_tokens"})
    return c.select(
        F.col(id_col),
        "n_tokens",
        F.floor((F.col("__cum") - F.col("n_tokens")) / F.lit(float(budget)))
        .cast("long")
        .alias("shard_id"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="pack_sequences")
def pack_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing: lay documents end-to-end in
    ``id_col`` order and cut the token stream into fixed ``seq_len`` blocks
    (the standard GPT-style pre-training packing).  Emits one row per
    (document, sequence) chunk: a document straddling block boundaries is
    split, a short document shares its sequence with its neighbours.

    ``tok_start``/``tok_end`` slice the document's own token array;
    ``seq_offset`` is where the chunk begins inside its sequence — together
    they are the full pack manifest a downstream tokenizer-writer needs,
    computed without materializing any token stream.

    Scale: the prefix sum is the un-keyed blocked cumsum, as in
    :func:`shard_by_tokens` (no global single-partition window); chunk
    explosion is in-row (a document spans at most ``ceil(n/seq_len)+1``
    sequences). One data-sized shuffle. The (id, n_tokens) frame is pinned
    (``pins.pin``; caller releases via ``release_pins``): the cumsum's
    bounds job and two passes necessarily read it three times,
    and unpinned each pass — plus the pushed ``n_tokens > 0`` filter —
    re-tokenized the corpus (6 split copies in the round-8 plan audit);
    the pinned frame is two narrow columns, nothing like corpus width.
    """
    from ffn_polars_spark.core import blocked_keyed_cumsum
    from ffn_polars_spark.operators._scanmeta import spread_scan

    df = spread_scan(df, id_col)
    t = pin(
        df.select(
            F.col(id_col), token_count(F.col(text_col)).cast("long").alias("n_tokens")
        ).where(F.col("n_tokens") > 0)
    )
    c = blocked_keyed_cumsum(t, [], [id_col], {"__cum": "n_tokens"})
    L = F.lit(int(seq_len))
    c = c.withColumn("__start", F.col("__cum").cast("long") - F.col("n_tokens"))
    c = c.withColumn(
        "seq_id",
        F.explode(
            F.sequence(
                F.floor(F.col("__start") / L).cast("long"),
                F.floor((F.col("__start") + F.col("n_tokens") - 1) / L).cast("long"),
            )
        ),
    )
    pos = F.col("seq_id") * L
    return c.select(
        F.col(id_col),
        "n_tokens",
        "seq_id",
        F.greatest(pos - F.col("__start"), F.lit(0)).cast("long").alias("tok_start"),
        F.least(F.col("n_tokens"), pos + L - F.col("__start"))
        .cast("long")
        .alias("tok_end"),
        F.greatest(F.col("__start") - pos, F.lit(0)).cast("long").alias("seq_offset"),
        (
            F.least(F.col("n_tokens"), pos + L - F.col("__start"))
            - F.greatest(pos - F.col("__start"), F.lit(0))
        )
        .cast("long")
        .alias("chunk_tokens"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="kfold_assign")
def kfold_assign(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic k-fold assignment by content-independent id hash:
    ``fold = int(md5(str(id) || salt)[:8], 16) % k`` — the
    cross-validation companion to :func:`deterministic_split`, with the
    same three properties (re-run/engine/partitioning stable, incremental
    under new ids, md5-replayable outside Spark). ``salt`` re-rolls the
    folds without touching the data.

    Pure map-side projection: zero shuffle at any scale. Adds an integer
    ``fold`` column in ``[0, k)``.
    """
    if k < 2:
        raise ValueError("k must be at least 2")
    h = F.conv(
        F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 8),
        16,
        10,
    ).cast("long")
    return df.withColumn("fold", (h % F.lit(int(k))).cast("int"))


@register(namespace="eod", kind="df", context="dataframe", alias="time_split")
def time_split(
    df: DataFrame,
    ts_col: str = "ts_ns",
    train_frac: float = 0.8,
) -> DataFrame:
    """Leakage-safe temporal split: everything before the ``train_frac``
    time quantile is train, everything at/after is test — the split
    time-series models need (a random split leaks future rows into
    training; id-hash splits are for exchangeable documents, not ordered
    observations).

    The cutoff is the exact interpolated ``train_frac`` quantile of the
    timestamp column (one aggregate), broadcast back as a 1-row frame —
    the corpus never shuffles; the assignment is a comparison. Rows with
    NULL timestamps go to NULL split (surface them, don't guess).

    Adds ``split`` ('train' | 'test') and a ``cutoff_ts`` column so the
    boundary is auditable in the output itself.
    """
    if not 0.0 < train_frac < 1.0:
        raise ValueError("train_frac must be in (0, 1)")
    cut = df.agg(
        F.percentile(F.col(ts_col), F.lit(float(train_frac))).alias("__cut")
    )
    j = df.crossJoin(F.broadcast(cut))
    split = F.when(F.col(ts_col).isNull(), F.lit(None).cast("string")).when(
        F.col(ts_col) < F.col("__cut"), F.lit("train")
    ).otherwise(F.lit("test"))
    return j.withColumn("split", split).withColumnRenamed("__cut", "cutoff_ts")


@register(namespace="eod", kind="df", context="dataframe", alias="label_stats")
def label_stats(
    df: DataFrame,
    label_col: str = "label",
) -> DataFrame:
    """Class-balance report: per-label counts and frequencies plus the
    dataset's label entropy (bits) on every row — the one-glance check
    before training a classifier or stratifying a sample (a 0.1-bit
    entropy says "this dataset is one class plus noise" faster than any
    histogram).

    One label-keyed count aggregate (map-side partials), then the total
    and entropy come from windows over the LABEL-CARDINALITY frame —
    a single-partition window is fine there because its input is bounded
    by the class count, never the data (the old crossJoin-chain shape
    re-ran the data-sized count aggregate once per derived branch; the
    r11 plan audit counted 3 extra table scans). NULL labels count as
    their own class.

    Returns ``(label, n, frac, entropy_bits)`` — entropy repeated per row
    for a self-contained report.
    """
    from pyspark.sql import Window

    counts = df.groupBy(label_col).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy(F.lit(1))
    staged = counts.withColumn("__p", F.col("n") / F.sum("n").over(w))
    out = staged.withColumn(
        "__h", -F.sum(F.col("__p") * F.log2("__p")).over(w)
    )
    return out.select(
        label_col,
        "n",
        F.round(F.col("__p"), 6).alias("frac"),
        F.round(F.col("__h"), 6).alias("entropy_bits"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="cap_per_group")
def cap_per_group(
    df: DataFrame,
    n: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    tag: str = "cap",
    seed: int = 0,
) -> DataFrame:
    """Keep at most ``n`` rows per group, chosen by a deterministic uniform
    draw — the domain-capping curation step ("no single source dominates
    the mix") used ahead of training-data mixing, reproducible across
    re-runs, engines, and cluster shapes.

    Rows are ranked inside each group by the md5 uniform of ``id_col``
    (ties broken by id) and the first ``n`` survive — an unbiased
    without-replacement sample per group, and a *stable* one: adding new
    documents to a group never evicts a kept one unless the newcomer draws
    a smaller key. Contrast [[domain_mix]] (rate-based target mixing) and
    [[stratified_sample]] (per-stratum fractions): this is a hard cap.

    Plan shape: one ``row_number`` window per group (single hash
    partitioning on ``group_col``), no join, no collect. Skewed group
    sizes are window-safe — rank then filter streams each partition once.
    """
    from pyspark.sql.window import Window

    from ffn_polars_spark.sim.rand import uniform

    u = uniform(F.col(id_col), tag, seed, hash_fn="md5")
    w = Window.partitionBy(group_col).orderBy(u.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= F.lit(int(n)))
        .drop("__rn")
    )


@register(namespace="eod", kind="df", context="dataframe", alias="zorder_key")
def zorder_key(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 16,
) -> DataFrame:
    """Z-order (Morton) interleave of two integer columns' low ``bits``
    bits — the space-filling-curve sort key that makes ONE physical layout
    serve range predicates on EITHER dimension (write parquet sorted by
    ``zorder`` and min/max row-group pruning works for x-only and y-only
    filters alike; the technique behind Delta/Iceberg Z-ORDER clustering).
    Pure bitwise projection, unrolled to ``bits`` shift/mask terms —
    whole-stage-codegen JVM arithmetic, no shuffle, and trivially
    replayable by any engine with shift/AND.

    Adds a ``zorder`` LongType column (x in even bit positions, y in odd).
    """
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    z = F.lit(0).cast("long")
    for b in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x, b).bitwiseAND(F.lit(1)), 2 * b)
            + F.shiftleft(F.shiftright(y, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        )
    return df.withColumn("zorder", z)


@register(namespace="eod", kind="df", context="dataframe", alias="seasonal_adjust")
def seasonal_adjust(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    by=None,
    period_ns: int = 86_400_000_000_000,
    buckets: int = 24,
) -> DataFrame:
    """Multiplicative seasonal normalization: bucket each row by phase
    within a cycle (hour-of-day by default), compute the per-(group,
    phase) mean over the whole history, express it as an index relative
    to the group mean, and divide the row's value by its phase index —
    the load-normalization every traffic/volume monitor needs before
    anomaly logic like [[cusum_changepoints]] can see regime shifts
    instead of the daily cycle.

    Two stacked aggregates (phase means, then group means over the
    phase-cardinality frame) broadcast back to the rows — the big table
    never shuffles; NULL adjustment where the phase index is 0.

    Adds ``phase``, ``seasonal_index``, ``{value_col}_adjusted``.
    """
    keys = [by] if isinstance(by, str) else list(by or [])
    v = F.col(value_col).cast("double")
    phase = (
        F.floor(
            (F.col(ts_col) % F.lit(period_ns))
            / F.lit(period_ns // buckets)
        )
        .cast("int")
        .alias("phase")
    )
    staged = df.withColumn("phase", phase)
    phase_means = staged.groupBy(*(keys + ["phase"])).agg(
        F.avg(v).alias("__pm"), F.count(v).alias("__pn")
    )
    g = phase_means.groupBy(*keys) if keys else phase_means.groupBy()
    # group mean reconstructed from the phase frame (weighted), so the big
    # table is aggregated exactly once
    grand = g.agg(
        (F.sum(F.col("__pm") * F.col("__pn")) / F.sum("__pn")).alias("__gm")
    )
    idx = (
        phase_means.join(F.broadcast(grand), on=keys)
        if keys
        else phase_means.crossJoin(F.broadcast(grand))
    ).select(
        *keys,
        "phase",
        F.when(F.col("__gm") != 0, F.col("__pm") / F.col("__gm")).alias(
            "seasonal_index"
        ),
    )
    out = staged.join(F.broadcast(idx), on=keys + ["phase"])
    adj = F.when(
        F.col("seasonal_index") != 0, v / F.col("seasonal_index")
    )
    return out.withColumn(f"{value_col}_adjusted", adj)


@register(namespace="eod", kind="df", context="dataframe", alias="walkforward_split")
def walkforward_split(
    df: DataFrame,
    ts_col: str,
    n_folds: int = 4,
) -> DataFrame:
    """Rolling-origin (walk-forward) cross-validation assignment: the
    timeline is cut into ``n_folds + 1`` equal-count blocks by exact time
    quantiles; fold ``f`` trains on blocks ``1..f`` and tests on block
    ``f+1`` — each fold's train set strictly precedes its test set, the
    only leakage-safe CV for serially-dependent data ([[time_split]] is
    the single-fold special case, [[kfold_assign]] the iid one).

    The quantile cutoffs are a 1-row broadcast (the corpus never shuffles
    for the block assignment); each row then explodes to its (fold, role)
    memberships — at most ``n_folds`` output rows per input row, by
    construction of the triangular train sets.

    Returns one row per (input row, fold) membership:
    ``(fold, role, <input columns>)``.
    """
    q = [i / (n_folds + 1.0) for i in range(1, n_folds + 1)]
    ts = F.col(ts_col).cast("double")
    cuts = df.agg(
        F.percentile(ts, F.array([F.lit(x) for x in q])).alias("__cuts")
    )
    with_block = df.crossJoin(F.broadcast(cuts)).withColumn(
        "__b",
        F.aggregate(
            F.col("__cuts"),
            F.lit(0),
            lambda acc, c: acc + F.when(ts > c, 1).otherwise(0),
        ),
    )
    folds = with_block.withColumn(
        "fold", F.explode(F.sequence(F.lit(1), F.lit(int(n_folds))))
    )
    role = (
        F.when(F.col("__b") < F.col("fold"), F.lit("train"))
        .when(F.col("__b") == F.col("fold"), F.lit("test"))
    )
    return (
        folds.withColumn("role", role)
        .where(F.col("role").isNotNull())
        .drop("__cuts", "__b")
    )
