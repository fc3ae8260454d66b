"""Sketch and deterministic-sampling operators.

Beyond the reference's surface (the reference has no sketching layer —
/root/reference/ffn_polars has only exact aggregations): cardinality
estimation and corpus sampling primitives a 100 TB training-data pipeline
needs, built so the *same draw* is replayable by any engine.

Design notes (100 TB):

* Every random quantity is a **deterministic md5 uniform** of the row key
  (``sim.rand.uniform(..., hash_fn="md5")``): no RNG state, no seed
  plumbing across executors, and a DuckDB/Trino/BigQuery oracle can replay
  the draw bit-for-bit. Re-running the job on different cluster shapes
  yields identical samples — the property that matters for reproducible
  dataset curation.
* ``bottomk_sample`` compiles to ``TakeOrderedAndProject``: each task keeps
  its local k smallest, the driver merges k·partitions rows — no global
  sort, no single-reducer shuffle (plan pinned by tests/test_plans.py).
* ``kmv_distinct`` is the K-minimum-values estimator (Bar-Yossef et al.
  2002): the k smallest hash values of a set of n distinct uniforms sit at
  ≈ k/n, so ``(k-1)/h_k`` is an unbiased estimate of n. The only full-width
  shuffle is the DISTINCT on (group, hash); the per-group rank runs on a
  pre-filtered slice (see ``prefilter``) so no task ever sorts more than
  ~64·k rows per group.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ffn_polars_spark.pins import pin
from ffn_polars_spark.registry import register
from ffn_polars_spark.sim.rand import uniform


@register(namespace="eod", kind="df", context="dataframe", alias="bottomk_sample")
def bottomk_sample(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    tag: str = "sample",
    seed: int = 0,
) -> DataFrame:
    """Deterministic uniform sample of exactly ``k`` rows.

    Each row's md5 uniform ``h = U(id, tag, seed)`` is a pure function of its
    id, and the sample is the ``k`` rows with the smallest ``h`` (ties — a
    60-bit collision — broken by id). Unlike ``df.sample(fraction)`` this is
    (a) exactly-k, (b) independent of partitioning/cluster shape, and
    (c) replayable by any engine with md5.

    Scale: ``orderBy(h).limit(k)`` compiles to ``TakeOrderedAndProject`` —
    per-partition local top-k, merged once; no global sort.
    """
    h = uniform(F.col(id_col), tag, seed, hash_fn="md5")
    out = df.withColumn("__h", h).orderBy("__h", id_col)
    return out.limit(int(k)).drop("__h")


def _kmv_sketch(
    df: DataFrame, value_col: str, k: int, tag: str, seed: int
) -> DataFrame:
    """One-row frame with ``__ks`` = the k smallest distinct md5-uniform
    hashes of ``value_col`` (sorted ascending; shorter when fewer exist).

    The ungrouped prefilter shape from :func:`kmv_distinct` (HLL bound →
    τ-filter → one ``collect_set``), exposed separately so mergeable
    consumers ([[corpus_overlap]]) can combine sketches instead of
    re-hashing a combined stream. An empty input yields one row with an
    empty array (a global aggregate always emits a row)."""
    h = uniform(F.col(value_col), tag, seed, hash_fn="md5")
    hashed = df.select(h.alias("__h"))
    est = df.groupBy().agg(F.approx_count_distinct(value_col).alias("__nhat"))
    tau = F.least(
        F.lit(1.0), F.lit(64.0 * k) / F.greatest(F.lit(1.0), F.col("__nhat"))
    )
    est = F.broadcast(est.select(tau.alias("__tau")))
    survivors = hashed.crossJoin(est).where(F.col("__h") <= F.col("__tau"))
    ks = F.slice(F.sort_array(F.collect_set("__h")), 1, int(k))
    return survivors.groupBy().agg(ks.alias("__ks"))


@register(namespace="eod", kind="df", context="dataframe", alias="kmv_distinct")
def kmv_distinct(
    df: DataFrame,
    value_col: str,
    group_by: Optional[Sequence[str]] = None,
    k: int = 256,
    tag: str = "kmv",
    seed: int = 0,
    prefilter: bool = True,
) -> DataFrame:
    """K-minimum-values distinct-count estimate per group.

    Hash each value to a deterministic md5 uniform, keep the ``k`` smallest
    distinct hashes per group, and estimate ``n_distinct ≈ (k-1) / h_k``
    where ``h_k`` is the k-th smallest (exact count when fewer than ``k``
    distinct values exist). Standard error ≈ ``1/sqrt(k-2)``.

    Why not HLL (``approx_count_distinct``)? HLL is cheaper but its register
    state is engine-internal — no external oracle can reproduce the
    estimate. KMV's "state" is just the k smallest hashes of a documented
    hash function, so DuckDB replays the estimate bit-for-bit; use this
    where the *number itself* must be auditable, HLL where it's advisory.

    Scale path (``prefilter``, the default): a map-side HLL first bounds
    each group's cardinality ``n̂``; only hashes below ``τ = min(1, 64k/n̂)``
    survive the filter — expected ~64·k per group — and a single
    ``collect_set`` aggregate (partial sets built map-side, so duplicates
    never cross the wire) yields the k smallest. TWO small shuffles total
    (HLL agg + survivor agg), and crucially NO data-width DISTINCT: the
    corpus-sized rows die at the filter, executor memory per group is
    bounded at ~64·k doubles. The cut cannot change the k smallest unless
    fewer than k hashes survive, which at 64× headroom has probability
    < exp(-k) (Chernoff); the estimate is therefore identical to the
    unfiltered one in any run you will ever observe. With
    ``prefilter=False`` the exact-baseline path runs instead: full
    DISTINCT + per-group rank window (unbounded group sort — small data /
    verification only; the equivalence of the two paths is pinned by
    tests/test_sketch.py).

    Returns one row per group: ``(*group_by, n_seen, kmv_estimate)``.
    """
    gcols = list(group_by) if group_by else []
    h = uniform(F.col(value_col), tag, seed, hash_fn="md5")
    hashed = df.select(*gcols, h.alias("__h"))

    if prefilter:
        grp = df.groupBy(*gcols) if gcols else df.groupBy()
        est = grp.agg(F.approx_count_distinct(value_col).alias("__nhat"))
        # greatest(1, n̂): an empty input (n̂ = 0) must yield τ = 1, not a
        # division-by-zero under ANSI mode
        tau = F.least(
            F.lit(1.0),
            F.lit(64.0 * k) / F.greatest(F.lit(1.0), F.col("__nhat")),
        )
        est = F.broadcast(est.select(*gcols, tau.alias("__tau")))
        if gcols:
            hashed = hashed.join(est, gcols).where(F.col("__h") <= F.col("__tau"))
        else:
            hashed = hashed.crossJoin(est).where(F.col("__h") <= F.col("__tau"))
        ks = F.slice(F.sort_array(F.collect_set("__h")), 1, int(k))
        agg = hashed.groupBy(*gcols).agg(ks.alias("__ks"))
        n_seen = F.size("__ks")
        # guard the ANSI element_at(arr, 0) error on an empty sketch; the
        # estimate takes the exact-count branch there anyway
        hk = F.when(n_seen > 0, F.element_at("__ks", n_seen))
        agg = agg.select(*gcols, n_seen.alias("n_seen"), hk.alias("__hk"))
    else:
        from pyspark.sql.window import Window

        win = Window.partitionBy(*[F.col(c) for c in gcols]).orderBy("__h")
        ranked = (
            hashed.distinct()
            .withColumn("__rn", F.row_number().over(win))
            .where(F.col("__rn") <= F.lit(int(k)))
        )
        agg = ranked.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n_seen"), F.max("__h").alias("__hk")
        )
    estimate = F.when(
        F.col("n_seen") < F.lit(int(k)), F.col("n_seen").cast("double")
    ).otherwise(F.lit(float(k - 1)) / F.col("__hk"))
    return agg.select(*gcols, "n_seen", estimate.alias("kmv_estimate"))


def _qname(q: float) -> str:
    """p50, p99, p99_9 — a stable column name for a quantile."""
    s = f"{q * 100:g}".replace(".", "_")
    return f"p{s}"


@register(namespace="eod", kind="df", context="dataframe", alias="group_quantiles")
def group_quantiles(
    df: DataFrame,
    value_col: str,
    group_by: Optional[Sequence[str]] = None,
    quantiles: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Exact interpolated quantiles per group (``F.percentile``: the
    SQL-standard continuous quantile, rank ``h = (n-1)·q`` with linear
    interpolation — DuckDB's ``quantile_cont`` computes the same value).

    Exact quantiles shuffle the group's values once; Spark's implementation
    aggregates per-group digests executor-side, so nothing collects to the
    driver. For 100 TB advisory percentiles prefer
    ``F.percentile_approx`` (bounded-memory KLL-style sketch, no exact
    sort) — this operator is for when the number must be reproducible.

    Returns one row per group: ``(*group_by, p50, p90, ... )``.
    """
    gcols = list(group_by) if group_by else []
    aggs = [
        F.round(F.percentile(F.col(value_col), F.lit(float(q))), 6).alias(_qname(q))
        for q in quantiles
    ]
    grp = df.groupBy(*gcols) if gcols else df.groupBy()
    return grp.agg(*aggs)


@register(namespace="eod", kind="df", context="dataframe", alias="value_histogram")
def value_histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int = 20,
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Fixed-width histogram per group: bin index, bin lower edge, count.

    Values below ``lo`` clamp into bin 0, above ``hi`` into the last bin
    (so the histogram is total — no silently dropped rows). Pure
    projection + one groupBy on (group, bin): map-side partial counts do
    the heavy lifting, what crosses the shuffle is at most
    ``nbins × groups × partitions`` rows regardless of data size.

    Returns ``(*group_by, bin, bin_lo, n)``, only non-empty bins.
    """
    gcols = list(group_by) if group_by else []
    width = (float(hi) - float(lo)) / int(nbins)
    raw = F.floor((F.col(value_col) - F.lit(float(lo))) / F.lit(width)).cast("int")
    b = F.least(F.lit(int(nbins) - 1), F.greatest(F.lit(0), raw))
    return (
        df.select(*gcols, b.alias("bin"))
        .groupBy(*gcols, "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *gcols,
            "bin",
            (F.lit(float(lo)) + F.col("bin") * F.lit(width)).alias("bin_lo"),
            "n",
        )
    )


@register(namespace="eod", kind="df", context="dataframe", alias="column_profile")
def column_profile(
    df: DataFrame,
    cols: Optional[Sequence[str]] = None,
    exact: bool = False,
) -> DataFrame:
    """Per-column data-quality profile in ONE pass: row count, null count,
    and distinct count for every (selected) column — the ingest-gate
    profile a pipeline runs before accepting a new data drop.

    ``exact=False`` (default) uses HLL (``approx_count_distinct``) so the
    whole profile is a single hash-aggregate with no row expansion —
    the 100 TB path. ``exact=True`` swaps in ``count_distinct``, which
    Spark plans via an Expand operator (input rows × profiled columns) —
    precise, and the right choice when the number feeds an audit; for an
    engine-replayable estimate see :func:`kmv_distinct`.

    Returns long format: one row per column ``(column, n, n_null,
    n_distinct)`` — schema-stable regardless of the profiled columns'
    types, so profiles of different tables union cleanly.
    """
    names = list(cols) if cols else list(df.columns)
    nd = F.count_distinct if exact else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in names:
        aggs.append(F.sum(F.isnull(c).cast("long")).alias(f"__null_{c}"))
        aggs.append(nd(F.col(c)).alias(f"__nd_{c}"))
    one = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n"),
                F.col(f"__null_{c}").alias("n_null"),
                F.col(f"__nd_{c}").alias("n_distinct"),
            )
            for c in names
        ]
    )
    return one.select(F.explode(entries).alias("__e")).select("__e.*")


@register(namespace="eod", kind="df", context="dataframe", alias="corpus_overlap")
def corpus_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    k: int = 256,
    tag: str = "ovl",
    seed: int = 0,
) -> DataFrame:
    """Cross-corpus cardinality overlap from KMV sketches: distinct-count
    estimates for A, B, and A∪B, with the intersection by
    inclusion-exclusion and the distinct-Jaccard — "how many of this
    crawl's documents are already in the corpus" without ever joining the
    two corpora.

    KMV estimates are mergeable, and this exploits it: the union sketch is
    derived by MERGING the two per-side sketches (the k smallest of the
    union's hash stream are always contained in the union of each side's k
    smallest), so the corpus is scanned once per side — TWO passes, not
    the naive three (the union re-pass hashed every A and B row a second
    time; at corpus scale that is 50% more hashing for an identical
    number). Because the hashes are deterministic md5 uniforms, the three
    estimates — and hence the derived intersection and Jaccard — are
    replayable bit-for-bit by any engine, and the merged-sketch union
    estimate is bit-identical to the re-pass estimate (same k-th smallest
    hash). Each sketch is a single k-element row; they combine with a
    cross join of 1-row frames.

    Returns one row: ``(n_a, n_b, n_union, n_intersect, jaccard)``.
    """
    ska = _kmv_sketch(df_a.select(F.col(value_col)), value_col, k, tag, seed).select(
        F.col("__ks").alias("__ks_a")
    )
    skb = _kmv_sketch(df_b.select(F.col(value_col)), value_col, k, tag, seed).select(
        F.col("__ks").alias("__ks_b")
    )

    def est(ks: Column) -> Column:
        n_seen = F.size(ks)
        hk = F.when(n_seen > 0, F.element_at(ks, n_seen))
        return F.when(n_seen < F.lit(int(k)), n_seen.cast("double")).otherwise(
            F.lit(float(k - 1)) / hk
        )

    merged = F.slice(
        F.sort_array(F.array_distinct(F.concat(F.col("__ks_a"), F.col("__ks_b")))),
        1,
        int(k),
    )
    joined = ska.crossJoin(skb).select(
        est(F.col("__ks_a")).alias("n_a"),
        est(F.col("__ks_b")).alias("n_b"),
        est(merged).alias("n_union"),
    )
    inter = F.greatest(F.lit(0.0), F.col("n_a") + F.col("n_b") - F.col("n_union"))
    jacc = F.when(
        F.col("n_union") > 0, F.round(inter / F.col("n_union"), 6)
    ).otherwise(F.lit(0.0))
    return joined.select(
        "n_a",
        "n_b",
        "n_union",
        inter.alias("n_intersect"),
        jacc.alias("jaccard"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="robust_outliers")
def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_by: Optional[Sequence[str]] = None,
    k: float = 3.0,
    approx: bool = False,
) -> DataFrame:
    """Robust per-group outlier statistics via the median/MAD rule: a row is
    an outlier when ``|x - median| > k · 1.4826 · MAD`` (1.4826 scales the
    median absolute deviation to a normal-consistent sigma). Unlike
    mean/stddev z-scores, the median/MAD fences don't move when the
    outliers themselves are extreme — the standard robust filter for
    ingest-time value screening.

    Two aggregate-and-broadcast-join passes (median, then MAD of the
    deviations) and a final counting aggregate. The per-group median tables
    are group-cardinality-sized, so joining them back is a broadcast — the
    corpus-sized side never shuffles for the joins; only the two exact
    percentile aggregates shuffle group values.

    Scale: exact percentiles materialize each group's values in the
    aggregation buffer — reproducible, but for few huge groups (the events
    table shape: 5 types × billions of rows) pass ``approx=True`` to use
    ``percentile_approx`` (bounded-memory KLL-style sketch with map-side
    partial merges; not bit-reproducible across engines, which is why the
    exact path is the default and the oracle target).

    Returns ``(*group_by, n, median, mad, n_outliers, outlier_frac)``.
    """
    gcols = list(group_by) if group_by else []
    # Pin the (groups, value) projection: this is a THREE-pass algorithm
    # (median, MAD, counting aggregate) and AQE marks no subtree reuse
    # across the passes — unpinned, an expensive upstream (e.g.
    # seasonal_outliers' multi-branch deseasonalize) re-executes once per
    # pass. Neutral at sf0.1 (percentile aggregation dominates there);
    # the win appears when the upstream costs more than a 2-column cache
    # write, and the projection keeps the pin small either way.
    df = pin(df.select(*(gcols + [value_col])))
    pct = (
        (lambda c: F.percentile_approx(c, F.lit(0.5), F.lit(10000)))
        if approx
        else (lambda c: F.percentile(c, F.lit(0.5)))
    )
    grp = lambda d: d.groupBy(*gcols) if gcols else d.groupBy()  # noqa: E731
    med = grp(df).agg(pct(F.col(value_col)).alias("__med"))
    d1 = df.join(F.broadcast(med), gcols) if gcols else df.crossJoin(F.broadcast(med))
    d1 = d1.withColumn("__absdev", F.abs(F.col(value_col) - F.col("__med")))
    madt = grp(d1).agg(pct(F.col("__absdev")).alias("__mad"))
    d2 = d1.join(F.broadcast(madt), gcols) if gcols else d1.crossJoin(F.broadcast(madt))
    fence = F.lit(float(k)) * F.lit(1.4826) * F.col("__mad")
    flag = (F.col("__absdev") > fence).cast("long")
    return grp(d2).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.max("__med"), 6).alias("median"),
        F.round(F.max("__mad"), 6).alias("mad"),
        F.sum(flag).alias("n_outliers"),
        F.round(F.sum(flag) / F.count(F.lit(1)), 6).alias("outlier_frac"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="quantile_bin")
def quantile_bin(
    df: DataFrame,
    value_col: str,
    nbins: int = 4,
    group_by: Optional[Sequence[str]] = None,
    tiebreak: Optional[str] = None,
    approx: bool = False,
) -> DataFrame:
    """Per-group quantile bucketing (quartiles/deciles for feature binning
    and balanced stratification): adds a 1-based ``bin`` column.

    Exact mode uses ``ntile`` — the SQL-standard equal-size tiles — with an
    explicit ``tiebreak`` column so equal values order deterministically in
    every engine. Exact tiles need a full sort of each group on ONE
    reducer; that's the reproducible default and the oracle target, but
    for few huge groups it is the wrong shape at scale.

    ``approx=True`` is the 100 TB path: per-group cut points from
    ``percentile_approx`` (bounded-memory sketch, map-side merges)
    broadcast-joined back, bins assigned by comparison — no sort anywhere,
    the big side never shuffles. Bins are then approximately equal-sized.
    """
    from pyspark.sql.window import Window

    gcols = list(group_by) if group_by else []
    if not approx:
        order = [F.col(value_col)] + ([F.col(tiebreak)] if tiebreak else [])
        w = (
            Window.partitionBy(*gcols).orderBy(*order)
            if gcols
            else Window.orderBy(*order)
        )
        return df.withColumn("bin", F.ntile(int(nbins)).over(w))
    qs = [i / nbins for i in range(1, nbins)]
    grp = df.groupBy(*gcols) if gcols else df.groupBy()
    cuts = grp.agg(
        F.percentile_approx(
            F.col(value_col), F.array(*[F.lit(q) for q in qs]), F.lit(10000)
        ).alias("__cuts")
    )
    j = (
        df.join(F.broadcast(cuts), gcols)
        if gcols
        else df.crossJoin(F.broadcast(cuts))
    )
    v = F.col(value_col)
    bin_expr = F.aggregate(
        F.col("__cuts"),
        F.lit(1),
        lambda acc, c: acc + F.when(v > c, F.lit(1)).otherwise(F.lit(0)),
    )
    return j.withColumn("bin", bin_expr).drop("__cuts")


@register(namespace="eod", kind="df", context="dataframe", alias="winsorize")
def winsorize(
    df: DataFrame,
    value_col: str,
    group_by: Optional[Sequence[str]] = None,
    lower: float = 0.01,
    upper: float = 0.99,
    approx: bool = False,
) -> DataFrame:
    """Percentile clipping (winsorization): cap each value into its
    group's ``[p_lower, p_upper]`` band — the tail-taming companion to
    :func:`robust_outliers` when you want to KEEP the rows but bound their
    leverage (loss spikes from a handful of absurd values).

    One per-group percentile aggregate broadcast-joined back, then a pure
    ``greatest/least`` projection — the corpus-sized side never shuffles.
    Same exact/approx split as the rest of this module: exact
    ``F.percentile`` is reproducible and the oracle target;
    ``approx=True`` uses the bounded-memory sketch for few huge groups.

    Adds ``<value_col>_winsorized`` alongside the original column.
    """
    from pyspark.sql.window import Window  # noqa: F401  (parity with siblings)

    gcols = list(group_by) if group_by else []
    pct = (
        (lambda c, q: F.percentile_approx(c, F.lit(q), F.lit(10000)))
        if approx
        else (lambda c, q: F.percentile(c, F.lit(q)))
    )
    grp = df.groupBy(*gcols) if gcols else df.groupBy()
    cuts = grp.agg(
        pct(F.col(value_col), float(lower)).alias("__lo"),
        pct(F.col(value_col), float(upper)).alias("__hi"),
    )
    j = (
        df.join(F.broadcast(cuts), gcols)
        if gcols
        else df.crossJoin(F.broadcast(cuts))
    )
    clipped = F.least(F.greatest(F.col(value_col), F.col("__lo")), F.col("__hi"))
    return j.withColumn(f"{value_col}_winsorized", clipped).drop("__lo", "__hi")


@register(namespace="eod", kind="df", context="dataframe", alias="feature_scale")
def feature_scale(
    df: DataFrame,
    value_col: str,
    group_by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Per-group feature scaling: adds BOTH standardized
    (``(x - mean) / stddev``) and min-max (``(x - min) / (max - min)``)
    columns in one pass — the ML-preprocessing twin of winsorize (scale
    the survivors after clipping the tails).

    One per-group moments aggregate broadcast-joined back, then a pure
    projection — the big side never shuffles. Degenerate groups guard to
    NULL instead of an ANSI divide-by-zero: zero variance (constant
    group) and zero range respectively.

    Adds ``<value_col>_zscore`` and ``<value_col>_minmax``.
    """
    gcols = list(group_by) if group_by else []
    grp = df.groupBy(*gcols) if gcols else df.groupBy()
    stats = grp.agg(
        F.avg(F.col(value_col)).alias("__mu"),
        F.stddev_samp(F.col(value_col)).alias("__sd"),
        F.min(F.col(value_col)).alias("__lo"),
        F.max(F.col(value_col)).alias("__hi"),
    )
    j = (
        df.join(F.broadcast(stats), gcols)
        if gcols
        else df.crossJoin(F.broadcast(stats))
    )
    v = F.col(value_col)
    z = F.when(F.col("__sd") != 0, (v - F.col("__mu")) / F.col("__sd"))
    rng = F.col("__hi") - F.col("__lo")
    mm = F.when(rng != 0, (v - F.col("__lo")) / rng)
    return (
        j.withColumn(f"{value_col}_zscore", F.round(z, 6))
        .withColumn(f"{value_col}_minmax", F.round(mm, 6))
        .drop("__mu", "__sd", "__lo", "__hi")
    )


@register(namespace="eod", kind="df", context="dataframe", alias="weighted_sample")
def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    tag: str = "wsample",
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted sample of exactly ``k`` rows without
    replacement, inclusion probability proportional to ``weight_col`` —
    the curation step "sample documents proportional to quality score",
    reproducible across re-runs, engines, and cluster shapes.

    Efraimidis–Spirakis (2006) keys: ``key = u^(1/w)`` with ``u`` the
    row's md5 uniform; the k LARGEST keys are a weight-proportional
    without-replacement sample. Computed as ``ln(u)/w`` and taking the k
    largest (same order, no pow-precision surprises); zero/negative
    weights are excluded (key −inf). Same md5 idiom as bottomk_sample, so
    any engine replays the draw; ``orderBy().limit()`` compiles to
    ``TakeOrderedAndProject`` — per-partition local top-k, no global sort.

    Returns the sampled rows with their ``__key`` dropped.
    """
    u = uniform(F.col(id_col), tag, seed, hash_fn="md5")
    w = F.col(weight_col).cast("double")
    key = F.when(w > 0, F.log(u) / w)
    out = df.withColumn("__key", key).where(F.col("__key").isNotNull())
    return out.orderBy(F.desc("__key"), F.col(id_col)).limit(int(k)).drop("__key")


@register(namespace="eod", kind="df", context="dataframe", alias="hill_tail_index")
def hill_tail_index(
    df: DataFrame,
    value_col: str,
    k: int = 100,
    by: Optional[Sequence[str]] = None,
    tie_col: Optional[str] = None,
) -> DataFrame:
    """Hill estimator of the power-law tail index over each group's k
    largest positive values: ``H = mean(ln x₍ᵢ₎ − ln x₍ₖ₊₁₎)`` for the top
    k order statistics against the (k+1)-th, with ``alpha = 1/H`` the
    tail exponent (heavier tail → smaller alpha; alpha < 2 means infinite
    variance). The heavy-tail companion to [[robust_outliers]]: outliers
    flag points, Hill measures how much tail there is to expect.

    One ordered window pinned to the top k+1 rows per group (rank filter
    before any arithmetic — the aggregate's input is groups × (k+1), not
    the table) + one hash aggregate. Ties at the boundary are broken by
    ``tie_col`` for engine determinism. NULL when a group has fewer than
    k+1 positive values or H = 0 (all top-k equal).
    Returns ``(keys, hill, alpha, x_k1, n_tail)``.
    """
    from pyspark.sql.window import Window

    keys = list(by or [])
    x = F.col(value_col).cast("double")
    tie = [F.col(tie_col).asc()] if tie_col else []
    w = Window.partitionBy(*keys).orderBy(F.col("__x").desc(), *tie)
    extra = [tie_col] if tie_col else []
    pos = df.where(x > 0).select(*keys, *extra, x.alias("__x"))
    ranked = pos.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= k + 1
    )
    g = ranked.groupBy(*keys) if keys else ranked.groupBy()
    agg = g.agg(
        F.sum(F.when(F.col("__rn") <= k, F.log("__x"))).alias("__lnsum"),
        F.max(F.when(F.col("__rn") == k + 1, F.col("__x"))).alias("x_k1"),
        F.count(F.when(F.col("__rn") <= k, 1)).alias("n_tail"),
    )
    hill = F.when(
        F.col("x_k1").isNotNull() & (F.col("n_tail") == k),
        F.col("__lnsum") / F.lit(float(k)) - F.log("x_k1"),
    )
    return agg.select(
        *keys,
        hill.alias("hill"),
        F.when(hill > 0, F.lit(1.0) / hill).alias("alpha"),
        "x_k1",
        "n_tail",
    )


@register(namespace="eod", kind="df", context="dataframe", alias="quantile_transform")
def quantile_transform(
    df: DataFrame,
    value_col: str,
    by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Quantile (rank-uniform) transform per group: each value maps to its
    Hazen plotting position ``(midrank − 0.5) / n`` ∈ (0, 1) — the
    distribution-free normalization that makes any feature comparable
    across groups with different scales and shapes (the rank companion to
    [[feature_scale]]'s moment-based modes). Ties share a midrank, so
    equal inputs get equal outputs; NULL values pass through NULL and do
    not consume ranks.

    One ordered window (rank) + one tie-count window on the same exchange
    (tie partition is a superset of the group keys) + one unordered count.
    Adds ``{value_col}_quantile`` to the input rows."""
    from pyspark.sql.window import Window

    keys = list(by or [])
    x = F.col(value_col)
    w_rank = Window.partitionBy(*keys).orderBy(x.asc())
    w_tie = Window.partitionBy(*(keys + [value_col]))
    w_all = Window.partitionBy(*keys)
    nn = F.sum(F.when(x.isNotNull(), 1).otherwise(0)).over(w_all)
    midrank = (
        F.rank().over(w_rank).cast("double")
        + (F.count(x).over(w_tie).cast("double") - F.lit(1.0)) / F.lit(2.0)
    )
    q = F.when(
        x.isNotNull(), (midrank - F.lit(0.5)) / nn.cast("double")
    )
    return df.withColumn(f"{value_col}_quantile", q)


@register(namespace="eod", kind="df", context="dataframe", alias="groupk_sample")
def groupk_sample(
    df: DataFrame,
    k: int,
    by: Sequence[str],
    id_col: str = "doc_id",
    tag: str = "gsample",
    seed: int = 0,
) -> DataFrame:
    """Deterministic exactly-k-per-group uniform sample: each row's md5
    uniform is a pure function of its id ([[bottomk_sample]]'s global
    idiom, stratified), and each group keeps its k smallest — the
    balanced-eval-set / per-domain-inspection sampler whose draw any
    engine replays and whose result is independent of partitioning.
    Groups with fewer than k rows keep everything.

    One ordered window per group (rank over the hash, WindowGroupLimit
    prunes beyond k before the filter) — a single exchange on the group
    key. Returns the sampled input rows.
    """
    from pyspark.sql.window import Window

    h = uniform(F.col(id_col), tag, seed, hash_fn="md5")
    w = Window.partitionBy(*by).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= int(k))
        .drop("__rk")
    )


@register(namespace="eod", kind="df", context="dataframe", alias="theil_sen_slope")
def theil_sen_slope(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: Optional[Sequence[str]] = None,
    n_pairs: int = 500,
    tag: str = "theilsen",
    seed: int = 0,
) -> DataFrame:
    """Sampled Theil–Sen robust trend: the median slope over ``n_pairs``
    deterministically-sampled point pairs per group — the
    outlier-immune alternative to OLS (breakdown point 29% vs 0%),
    made 100 TB-safe by sampling: the classical estimator's all-pairs
    median is O(n²), but the median over a fixed random pair sample
    converges at O(1/√k) independent of n, and md5-uniform indices
    make the sample replayable by any engine ([[bottomk_sample]]'s
    draw idiom).

    One ordered window to index each group's points, a pair-index frame
    of groups × n_pairs rows, two equi-joins back to the indexed points
    (never a self-join of the data), one exact-percentile aggregate.
    Pairs that draw the same index twice are dropped (documented,
    deterministic). Returns ``(keys, theil_sen_slope, n_pairs_used,
    n_points)``.
    """
    from pyspark.sql.window import Window

    keys = list(by or [])
    w = Window.partitionBy(*keys).orderBy(F.col("__x").asc())
    pts = df.select(
        *keys,
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).withColumn("__rn", F.row_number().over(w))
    g = pts.groupBy(*keys) if keys else pts.groupBy()
    sizes = g.agg(F.max("__rn").alias("__n"))
    trials = sizes.withColumn(
        "trial", F.explode(F.sequence(F.lit(1), F.lit(int(n_pairs))))
    )
    gk = F.concat_ws("|", *[F.col(c) for c in keys], F.col("trial"))
    u1 = uniform(gk, tag + ":a", seed, hash_fn="md5")
    u2 = uniform(gk, tag + ":b", seed, hash_fn="md5")
    idx = trials.select(
        *keys,
        "__n",
        (F.floor(u1 * F.col("__n")) + F.lit(1)).cast("int").alias("__i1"),
        (F.floor(u2 * F.col("__n")) + F.lit(1)).cast("int").alias("__i2"),
    ).where(F.col("__i1") != F.col("__i2"))
    p1 = pts.select(
        *keys, F.col("__rn").alias("__i1"),
        F.col("__x").alias("__x1"), F.col("__y").alias("__y1"),
    )
    p2 = pts.select(
        *keys, F.col("__rn").alias("__i2"),
        F.col("__x").alias("__x2"), F.col("__y").alias("__y2"),
    )
    joined = idx.join(p1, keys + ["__i1"]).join(p2, keys + ["__i2"])
    slope = (F.col("__y2") - F.col("__y1")) / (F.col("__x2") - F.col("__x1"))
    staged = joined.where(F.col("__x2") != F.col("__x1")).select(
        *keys, slope.alias("__s"), F.col("__n")
    )
    g2 = staged.groupBy(*keys) if keys else staged.groupBy()
    return g2.agg(
        F.percentile(F.col("__s"), F.lit(0.5)).alias("theil_sen_slope"),
        F.count(F.lit(1)).alias("n_pairs_used"),
        F.max("__n").cast("long").alias("n_points"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="weighted_quantile")
def weighted_quantile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_by: Optional[Sequence[str]] = None,
    quantiles: Sequence[float] = (0.5, 0.9),
) -> DataFrame:
    """Weight-aware quantiles per group: the smallest value whose
    cumulative weight reaches ``q · Σw`` (the left-continuous / Type-1
    weighted quantile — a weight acts exactly like that many repeats of
    the row) — what "median price" MEANS on a tape where a 10-lot
    should count ten times a 1-lot, and the volume-weighted sibling of
    [[group_quantiles]].

    One ordered window per group for the cumulative weight + one
    conditional-min aggregate per quantile — all quantiles share the
    single exchange. With integer weights the cumulative is exact, so
    the crossing row is engine-independent even at ties (a float-weight
    cumulative can straddle the target by 1 ulp at a boundary — use
    integer or fixed-point weights where auditability matters). NULL
    weights/values are excluded; non-positive weights rejected by
    filter. Returns ``(*group_by, total_weight, n, p50_w, p90_w, ...)``
    named per [[group_quantiles]]'s convention.
    """
    gcols = list(group_by) if group_by else []
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    base = df.where(v.isNotNull() & w.isNotNull() & (w > 0)).select(
        *gcols, v.alias("__v"), w.alias("__w")
    )
    win = (
        Window.partitionBy(*gcols) if gcols else Window.partitionBy(F.lit(1))
    ).orderBy("__v")
    staged = base.withColumn(
        "__cw", F.sum("__w").over(win.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("__tw", F.sum("__w").over(win.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )))
    g = staged.groupBy(*gcols) if gcols else staged.groupBy()
    aggs = [
        F.first("__tw").alias("total_weight"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ]
    for q in quantiles:
        aggs.append(
            F.min(
                F.when(
                    F.col("__cw") >= F.lit(float(q)) * F.col("__tw"),
                    F.col("__v"),
                )
            ).alias(_qname(q) + "_w")
        )
    return g.agg(*aggs)
