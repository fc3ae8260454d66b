"""Wide EOD price-table helpers.

The reference's EOD archetype is a WIDE table — one date column plus one
price column per ticker (SURVEY.md §1.2-A; tests run each operator per
ticker column). These helpers make that workflow first-class:

* :func:`apply_to_columns` — run one expression operator over many price
  columns in a single ``select`` (one pass, auto-aliased per column).
* :func:`melt` — wide → long unpivot (ticker, value rows) via ``stack``, the
  layout every grouped/tick operator wants. Pure projection+generator, no
  shuffle; the inverse (:func:`pivot_prices`) is a grouped pivot.
"""

from __future__ import annotations

from typing import Callable, List, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ffn_polars_spark.pins import pin
from ffn_polars_spark.registry import register


@register(kind="df", context="dataframe")
def apply_to_columns(
    df: DataFrame,
    op: Callable[..., Column],
    cols: Sequence[str],
    keep: Optional[Sequence[str]] = None,
    **kwargs,
) -> DataFrame:
    """Apply expression operator ``op`` to every column in ``cols`` in ONE
    projection (one window per distinct Over, shared by all columns).

    Example::

        apply_to_columns(px, ffn.eod.to_returns, ["AAPL", "MSFT", "C"],
                         keep=["Date"], over=Over(order_by="Date"))
    """
    keep = list(keep or [])
    return df.select(*keep, *[op(c, **kwargs) for c in cols])


@register(kind="df", context="dataframe")
def melt(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    key_name: str = "ticker",
    value_name: str = "price",
) -> DataFrame:
    """Wide → long: one row per (id, value column). ``stack`` is a generator
    expression — each input row fans out executor-side, nothing shuffles."""
    id_cols = list(id_cols)
    pairs = ", ".join(f"'{c}', `{c}`" for c in value_cols)
    stacked = F.expr(
        f"stack({len(value_cols)}, {pairs}) as ({key_name}, {value_name})"
    )
    return df.select(*id_cols, stacked)


@register(kind="df", context="dataframe")
def pivot_prices(
    df: DataFrame,
    id_col: str,
    key_col: str = "ticker",
    value_col: str = "price",
    keys: Optional[List[str]] = None,
    agg: str = "first",
) -> DataFrame:
    """Long → wide: one column per key. Passing ``keys`` explicitly skips the
    extra distinct-keys job and keeps the column order stable. ``agg`` picks
    the cell aggregate — "first" for already-unique (id, key) pairs,
    "avg"/"max"/"min"/"sum" for deterministic collapsing of duplicates
    (use one of these when row order isn't guaranteed: "first" depends on
    partition arrival order)."""
    fns = {"first": F.first, "avg": F.avg, "max": F.max, "min": F.min, "sum": F.sum}
    if agg not in fns:
        raise ValueError(f"agg must be one of {sorted(fns)}")
    p = df.groupBy(id_col).pivot(key_col, keys)
    return p.agg(fns[agg](value_col))


@register(namespace="eod", kind="df", context="dataframe", alias="corr_matrix")
def corr_matrix(
    df: DataFrame,
    ts_col: str = "ts_ns",
    key_col: str = "event_type",
    price_col: str = "price",
    bucket_ns: int = 60_000_000_000,
    min_buckets: int = 2,
) -> DataFrame:
    """Pairwise return-correlation matrix across series (upper triangle):
    align every series onto common time buckets, difference into simple
    returns, then correlate each pair on the buckets where both have a
    return. Beyond the reference's surface — /root/reference/ffn_polars
    ships only per-series ratios, no cross-series correlation — this is
    the portfolio-construction / redundant-feature-detection companion.

    Shape: one (key, bucket) aggregate (map-side partial avg), a lag window
    per key for returns, a self-equi-join on the bucket column, and a
    (key_a, key_b) ``corr`` aggregate. The join is keyed on time buckets —
    high-cardinality and uniform, so it shuffles evenly; row count is
    ``buckets × k²/2`` for k series, which for the realistic k ≤ a few
    thousand tickers stays far below the source tick count. Nothing is
    collected to the driver; the matrix itself (k²/2 rows) is the output.

    Returns ``(key_a, key_b, n_buckets, ret_corr)``.
    """
    b = (
        df.groupBy(
            F.col(key_col).alias("__key"),
            F.floor(F.col(ts_col) / F.lit(int(bucket_ns))).alias("__bucket"),
        )
        .agg(F.avg(price_col).alias("__p"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("__key").orderBy("__bucket")
    # PIN the bucket-returns frame: both self-join sides read it, and
    # each would otherwise re-run the data-sized bucket aggregate + lag
    # window (r11 derived-branch class). keys x buckets rows — small.
    r = pin(
        b.select(
            "__key",
            "__bucket",
            (F.col("__p") / F.lag("__p").over(w) - F.lit(1.0)).alias("__ret"),
        ).where(F.col("__ret").isNotNull())
    )
    a = r.select(
        F.col("__key").alias("key_a"), F.col("__bucket").alias("__bucket"),
        F.col("__ret").alias("__ret_a"),
    )
    c = r.select(
        F.col("__key").alias("key_b"), F.col("__bucket").alias("__bucket"),
        F.col("__ret").alias("__ret_b"),
    )
    pairs = a.join(c, "__bucket").where(F.col("key_a") < F.col("key_b"))
    # corr from guarded population moments rather than F.corr: a
    # zero-variance side makes F.corr divide by zero under ANSI mode
    # (SQLSTATE 22012); this yields NULL there instead — the same answer
    # DuckDB's corr gives — and the identical value elsewhere (the n
    # factors of the pop/samp forms cancel; sub-ulp differences are
    # absorbed by the round).
    den = F.stddev_pop("__ret_a") * F.stddev_pop("__ret_b")
    return (
        pairs.groupBy("key_a", "key_b")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.round(
                F.when(den != 0, F.covar_pop("__ret_a", "__ret_b") / den), 6
            ).alias("ret_corr"),
        )
        .where(F.col("n_buckets") >= F.lit(int(min_buckets)))
    )


@register(namespace="eod", kind="df", context="dataframe", alias="topk_per_group")
def topk_per_group(
    df: DataFrame,
    keys,
    order_cols,
    k: int = 10,
    ascending: bool = False,
    rank_col: str = "rank",
) -> DataFrame:
    """Generic ranked top-k per group: the ``row_number() <= k`` idiom as
    a first-class operator. ``order_cols`` must end in a unique
    tie-breaker (pass e.g. ``["value", "event_id"]``) or the selection is
    nondeterministic — this is a contract, not a convention.

    The plan is the scalable form of per-group selection: Spark rewrites
    the rank-filter into ``WindowGroupLimit``, which keeps only k rows
    per group IN EACH MAP TASK before the shuffle — the wire carries
    O(groups·k), not the input. Never ``orderBy().limit()`` per group in
    a loop, never collect-and-slice. Returns the input columns plus
    ``rank_col`` (1-based).
    """
    from pyspark.sql import Window

    keys = [keys] if isinstance(keys, str) else list(keys)
    order_cols = (
        [order_cols] if isinstance(order_cols, str) else list(order_cols)
    )
    order = [
        F.col(c).asc() if ascending else F.col(c).desc()
        for c in order_cols
    ]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .where(F.col(rank_col) <= F.lit(int(k)))
    )


@register(namespace="eod", kind="df", context="dataframe", alias="json_extract_stats")
def json_extract_stats(
    df,
    json_col: str,
    path: str,
    by=None,
):
    """Typed extraction audit for a semi-structured JSON string column:
    pull ``path`` (``$.field`` syntax) with engine-native JSON access
    (whole-stage codegen, no UDF), and report per group how many rows
    parse, how many carry the field, and the numeric profile of the
    extracted values — the schema-drift gate an ingest pipeline runs
    before trusting ``props``-style payload columns.

    One projection + one hash aggregate. Returns ``(keys, n_rows,
    n_json, n_field, min_v, max_v, avg_v)`` with the numeric stats NULL
    when the field never parses as a number."""
    from pyspark.sql import functions as F

    keys = [by] if isinstance(by, str) else list(by or [])
    j = F.col(json_col)
    raw = F.get_json_object(j, path)
    # try_cast: a non-numeric field value ("x") must profile as NULL —
    # under ANSI a bare cast throws CAST_INVALID_INPUT and one malformed
    # payload row kills the whole audit (the audit's entire job is
    # surviving malformed payloads)
    num = raw.try_cast("double")
    g = df.groupBy(*keys) if keys else df.groupBy()
    return g.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.get_json_object(j, "$").isNotNull(), 1)).alias("n_json"),
        F.count(raw).alias("n_field"),
        F.min(num).alias("min_v"),
        F.max(num).alias("max_v"),
        F.avg(num).alias("avg_v"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="union_evolve")
def union_evolve(*dfs):
    """Schema-evolution union: align any number of frames by column NAME,
    null-filling columns a frame lacks and widening mismatched numeric
    types to their least common type — the reader-side half of schema
    evolution (a v2 extract adds a column, a v1 archive lacks it; the
    union must still run). Column order follows first appearance across
    the inputs; a name whose types cannot widen raises rather than
    silently corrupting.

    Pure projections + UNION — no shuffle, no data movement beyond the
    union itself.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if not dfs:
        raise ValueError("union_evolve needs at least one DataFrame")
    order = []
    types = {}
    _RANK = {
        "tinyint": 0, "smallint": 1, "int": 2, "bigint": 3,
        "float": 4, "double": 5,
    }

    def widen(a: str, b: str) -> str:
        if a == b:
            return a
        if a in _RANK and b in _RANK:
            return a if _RANK[a] >= _RANK[b] else b
        raise TypeError(f"cannot widen {a} vs {b}")

    for df in dfs:
        for f in df.schema.fields:
            t = f.dataType.simpleString()
            if f.name not in types:
                order.append(f.name)
                types[f.name] = t
            else:
                types[f.name] = widen(types[f.name], t)
    out = None
    for df in dfs:
        have = set(df.columns)
        proj = [
            (F.col(c) if c in have else F.lit(None)).cast(types[c]).alias(c)
            for c in order
        ]
        part = df.select(*proj)
        out = part if out is None else out.unionByName(part)
    return out


@register(namespace="eod", kind="df", context="dataframe", alias="topk_churn")
def topk_churn(
    df: DataFrame,
    period_col: str,
    key_col: str,
    k: int = 10,
    weight_col: Optional[str] = None,
) -> DataFrame:
    """Top-k membership churn between consecutive periods: the Jaccard
    overlap of each period's top-``k`` keys (by row count, or by
    ``weight_col`` sum) with the PREVIOUS period's — the set-stability
    monitor behind "did our hot queries / top domains / most-active
    users change overnight?", the set-level companion to the
    distribution-level [[psi_drift]].

    Built from [[topk_per_group]]'s WindowGroupLimit idiom, so the
    wire carries O(periods·k) after the per-period aggregate; each
    period's top-k then collapses to ONE row holding its key SET
    (``collect_set``, bounded by k) and the consecutive-period overlap
    is a single ``lag`` + ``array_intersect`` over the periods-sized
    frame. The r11 rewrite replaced a five-branch self-join shape that
    re-derived the DATA-SIZED per-period aggregate once per branch
    (18 exchanges at the plan audit — the catalog's max) with exactly
    one data-sized aggregate + one top-k window + one periods-sized
    aggregate + one tiny single-partition window (the lag frame is
    period-cardinality, never data). Ties in the top-k cut are broken
    by ``key_col`` ascending — deterministic on every engine. NULL keys
    are EXCLUDED before the top-k window (filtered explicitly, not
    silently dropped by ``collect_set``): a NULL key identifies nothing,
    so it neither occupies a top-k slot nor counts toward the set
    sizes. Returns ``(period, n_curr, n_prev, n_common, jaccard)``, one
    row per period that HAS a predecessor (the previous DISTINCT period
    in sort order, exactly as the old dense_rank alignment defined it).
    """
    from pyspark.sql import Window

    wt = (
        F.sum(F.col(weight_col).cast("double"))
        if weight_col
        else F.count(F.lit(1)).cast("double")
    )
    df = df.where(F.col(key_col).isNotNull())
    per = df.groupBy(
        F.col(period_col).alias("__p"), F.col(key_col).alias("__k")
    ).agg(wt.alias("__w"))
    w = Window.partitionBy("__p").orderBy(F.col("__w").desc(), F.col("__k").asc())
    tops = per.withColumn("__rk", F.row_number().over(w)).where(
        F.col("__rk") <= F.lit(int(k))
    )
    sets = tops.groupBy("__p").agg(F.collect_set("__k").alias("__ks"))
    prev = F.lag("__ks").over(Window.orderBy("__p"))
    out = sets.withColumn("__prev", prev).where(F.col("__prev").isNotNull())
    n_curr = F.size("__ks").cast("long")
    n_prev = F.size("__prev").cast("long")
    n_common = F.size(F.array_intersect("__ks", "__prev")).cast("long")
    uni = n_curr + n_prev - n_common
    return out.select(
        F.col("__p").alias("period"),
        n_curr.alias("n_curr"),
        n_prev.alias("n_prev"),
        n_common.alias("n_common"),
        (n_common.cast("double") / uni.cast("double")).alias("jaccard"),
    )
