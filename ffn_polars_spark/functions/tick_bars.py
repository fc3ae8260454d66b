"""Bar construction + bar-based volatility estimators + activity metrics.

These fill the reference's declared-but-empty roadmap surface
(/root/reference/ffn_polars/expr/tick/bars.py and latency.py are 0 bytes;
the roadmap is README.md:40-64: OHLC bars, Garman-Klass / Parkinson
volatility, quote-to-trade ratio, volume profile, burst detection, idle
time). Semantics follow the standard literature definitions; the API follows
this package's two-phase dataframe-operator pattern.

Scale notes: time/tick bars group by a derived bar key — one hash exchange,
no ordered window. Volume/dollar bars need a running total per ticker (an
ordered window partitioned by the group keys); past ~50M rows per key the
per-key window's key-count parallelism floor routes them through
``core.blocked_keyed_cumsum`` instead (measured crossover in
:func:`volume_bars`'s docstring; policy in
``_scanmeta.use_blocked_sequence_plan``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ffn_polars_spark.core import (
    ColumnOrName,
    Over,
    first_by,
    last_by,
    to_col,
)
from ffn_polars_spark.registry import register

_LN2 = 0.6931471805599453


def _ohlcv_aggs(price: str, volume: Optional[str], ts: str) -> list:
    aggs = [
        first_by(price, ts).alias("open"),
        F.max(price).alias("high"),
        F.min(price).alias("low"),
        last_by(price, ts).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
        F.min(ts).alias("bar_start_ts"),
        F.max(ts).alias("bar_end_ts"),
    ]
    if volume is not None:
        tot = F.sum(volume).cast("double")
        aggs.append(tot.alias("volume"))
        # NULL vwap on a zero-volume bar (ANSI zero-div audit, r13)
        aggs.append(
            F.when(
                tot != 0.0, F.sum(to_col(price) * to_col(volume)) / tot
            ).alias("vwap")
        )
    return aggs


@register(kind="df", context="dataframe")
def time_bars(
    df: DataFrame,
    ts: str,
    price: str,
    volume: Optional[str] = None,
    by: Optional[list] = None,
    bar_ns: int = 60 * 1_000_000_000,
) -> DataFrame:
    """OHLC(+V/vwap) bars over fixed time windows of ``bar_ns`` nanoseconds.

    The bar key is ``floor(ts / bar_ns)`` — pure projection, so the whole
    operator is one hash aggregate (first/last are order-free arg-min/max
    structs, SURVEY.md §7.0-2).
    """
    by = list(by or [])
    bar = (to_col(ts) - (to_col(ts) % F.lit(int(bar_ns)))).alias("bar_ts")
    g = df.groupBy(*by, bar)
    return g.agg(*_ohlcv_aggs(price, volume, ts))


@register(kind="df", context="dataframe")
def tick_bars(
    df: DataFrame,
    ts: str,
    price: str,
    volume: Optional[str] = None,
    by: Optional[list] = None,
    ticks_per_bar: int = 100,
    seq_parallelism: str = "auto",
    rows_hint: Optional[int] = None,
) -> DataFrame:
    """Bars of exactly ``ticks_per_bar`` consecutive ticks per group.

    ``seq_parallelism``: past ~50M sampled rows per key the per-key row
    number is the running count ``core.blocked_keyed_cumsum`` of
    ``F.lit(1)`` (policy in ``_scanmeta.use_blocked_sequence_plan``); row
    numbering is exact either way, so the bar assignment is identical."""
    by = list(by or [])
    from ffn_polars_spark.operators._scanmeta import use_blocked_sequence_plan

    if by and use_blocked_sequence_plan(
        df, by, ts, seq_parallelism, rows_hint=rows_hint
    ):
        from ffn_polars_spark.core import blocked_keyed_cumsum

        pre = blocked_keyed_cumsum(df, by, [ts], {"__rn": F.lit(1)}).withColumn(
            "bar_id",
            ((F.col("__rn") - F.lit(1)) / F.lit(int(ticks_per_bar))).cast("long"),
        ).drop("__rn")
        return pre.groupBy(*(by + ["bar_id"])).agg(*_ohlcv_aggs(price, volume, ts))
    over = Over(order_by=ts, partition_by=by or None)
    rn = F.row_number().over(over.w_ordered("tick_bars")) - 1
    pre = df.withColumn("bar_id", (rn / F.lit(int(ticks_per_bar))).cast("long"))
    return pre.groupBy(*(by + ["bar_id"])).agg(*_ohlcv_aggs(price, volume, ts))


@register(kind="df", context="dataframe")
def volume_bars(
    df: DataFrame,
    ts: str,
    price: str,
    volume: str,
    by: Optional[list] = None,
    volume_per_bar: float = 10_000.0,
    seq_parallelism: str = "auto",
    rows_hint: Optional[int] = None,
) -> DataFrame:
    """Bars that close when cumulative volume crosses ``volume_per_bar``.

    Bar key = ``floor((cumsum(v) - v) / threshold)`` — the bar a tick OPENS
    in, so every bar's volume is >= threshold except the last.

    ``seq_parallelism``: the running volume is a per-key sequence op, so
    past ~50M sampled rows per key it routes through
    ``core.blocked_keyed_cumsum`` (the per-key window otherwise caps
    parallelism at the ticker count — see
    ``_scanmeta.use_blocked_sequence_plan``). Measured (sf100 tape,
    local[32], min-of-runs): 30.1 s window vs 37.8 s blocked at 20M
    rows/key; 101.1 s window vs 24.4 s blocked (4.1x) at 100M rows/key —
    the shared gate's third validated crossover. Exact for integer-valued
    and DECIMAL volumes; float volumes accumulate with a different
    association than the sequential window — a bar assignment can flip
    only when the running total sits within ~1 ulp of an exact bar
    boundary, never in the interior (pinned by
    tests/test_properties.py::test_volume_bars_blocked_flips_only_at_float_boundaries).
    Two exact routes when that matters: cast the volume to ``decimal``
    (money-denominated data usually is — decimal sums are exact in any
    association order, plan-invariant by test), or force
    ``seq_parallelism="window"`` for scale-independent reproducibility.
    """
    by = list(by or [])
    pre = _cum_minus_self(df, ts, volume, by, seq_parallelism, "volume_bars", rows_hint)
    pre = pre.withColumn(
        "bar_id", (F.col("__cumx") / F.lit(float(volume_per_bar))).cast("long")
    ).drop("__cumx")
    return pre.groupBy(*(by + ["bar_id"])).agg(*_ohlcv_aggs(price, volume, ts))


def _cum_minus_self(df, ts, val_col, by, seq_parallelism, op, rows_hint=None):
    """``cumsum(val) - val`` per key in ``ts`` order (the open-boundary
    running total the threshold-bar family keys on) as ``__cumx``, routed
    through the blocked cumsum past the key-parallelism crossover."""
    v = to_col(val_col) if isinstance(val_col, str) else val_col
    from ffn_polars_spark.operators._scanmeta import use_blocked_sequence_plan

    if by and use_blocked_sequence_plan(
        df, by, ts, seq_parallelism, rows_hint=rows_hint
    ):
        from ffn_polars_spark.core import blocked_keyed_cumsum

        staged = df.withColumn("__v", v)
        out = blocked_keyed_cumsum(staged, by, [ts], {"__cum": "__v"})
        return out.withColumn("__cumx", F.col("__cum") - F.col("__v")).drop(
            "__cum", "__v"
        )
    over = Over(order_by=ts, partition_by=by or None)
    cum = F.sum(v).over(over.w_cum(op))
    return df.withColumn("__cumx", cum - v)


@register(kind="df", context="dataframe")
def dollar_bars(
    df: DataFrame,
    ts: str,
    price: str,
    volume: str,
    by: Optional[list] = None,
    dollars_per_bar: float = 1_000_000.0,
    seq_parallelism: str = "auto",
    rows_hint: Optional[int] = None,
) -> DataFrame:
    """Bars that close when cumulative traded value crosses
    ``dollars_per_bar``. Same ``seq_parallelism`` routing (and float
    accumulation caveat) as :func:`volume_bars`; for money-denominated
    exactness cast ``price``/``volume`` so their product is a decimal —
    the running dollar total then accumulates exactly under either plan."""
    by = list(by or [])
    dv = to_col(price) * to_col(volume)
    pre = _cum_minus_self(df, ts, dv, by, seq_parallelism, "dollar_bars", rows_hint)
    pre = pre.withColumn(
        "bar_id", (F.col("__cumx") / F.lit(float(dollars_per_bar))).cast("long")
    ).drop("__cumx")
    return pre.groupBy(*(by + ["bar_id"])).agg(*_ohlcv_aggs(price, volume, ts))


# ---------------------------------------------------------------------------
# Bar-based volatility estimators (README roadmap: "Garman-Klass, Parkinson").
# Scalar aggregate context: run inside groupBy(keys).agg over an OHLC frame.
# ---------------------------------------------------------------------------


@register(namespace="tick", context="scalar")
def parkinson_volatility(high: ColumnOrName, low: ColumnOrName) -> Column:
    """Parkinson (1980) high-low range estimator per bar set:
    ``sqrt( mean( ln(h/l)^2 ) / (4 ln 2) )``."""
    hl = F.log(to_col(high) / to_col(low))
    return F.sqrt(F.avg(F.pow(hl, F.lit(2))) / F.lit(4.0 * _LN2))


parkinson_volatility._alias_suffix = "parkinson_vol"


@register(namespace="tick", context="scalar")
def garman_klass_volatility(
    open: ColumnOrName, high: ColumnOrName, low: ColumnOrName, close: ColumnOrName
) -> Column:
    """Garman-Klass (1980) OHLC estimator:
    ``sqrt( mean( 0.5 ln(h/l)^2 - (2 ln 2 - 1) ln(c/o)^2 ) )``."""
    hl = F.log(to_col(high) / to_col(low))
    co = F.log(to_col(close) / to_col(open))
    per_bar = F.lit(0.5) * F.pow(hl, F.lit(2)) - F.lit(2.0 * _LN2 - 1.0) * F.pow(
        co, F.lit(2)
    )
    return F.sqrt(F.avg(per_bar))


garman_klass_volatility._alias_suffix = "garman_klass_vol"


# ---------------------------------------------------------------------------
# Activity metrics (README roadmap: quote-to-trade ratio, idle time, burst
# detection, volume profile).
# ---------------------------------------------------------------------------


@register(kind="df", context="dataframe")
def quote_to_trade_ratio(
    quotes: DataFrame,
    trades: DataFrame,
    ts: str,
    by: Optional[list] = None,
    bar_ns: Optional[int] = None,
) -> DataFrame:
    """Quote updates per trade, overall or per time bar.

    Two partial-aggregated counts joined on the (small) bar/key grid — never
    a row-level quotes x trades join.
    """
    by = list(by or [])
    keys = list(by)
    if bar_ns is not None:
        bar = (to_col(ts) - (to_col(ts) % F.lit(int(bar_ns)))).alias("bar_ts")
        qg = quotes.groupBy(*by, bar)
        tg = trades.groupBy(*by, bar)
        keys = by + ["bar_ts"]
    else:
        qg = quotes.groupBy(*by)
        tg = trades.groupBy(*by)
    qc = qg.agg(F.count(F.lit(1)).alias("n_quotes"))
    tc = tg.agg(F.count(F.lit(1)).alias("n_trades"))
    joined = (
        qc.join(tc, on=keys, how="full") if keys else qc.crossJoin(tc)
    )
    return joined.select(
        *keys,
        F.coalesce(F.col("n_quotes"), F.lit(0)).alias("n_quotes"),
        F.coalesce(F.col("n_trades"), F.lit(0)).alias("n_trades"),
        (
            F.coalesce(F.col("n_quotes"), F.lit(0)).cast("double")
            / F.nullif(F.coalesce(F.col("n_trades"), F.lit(0)).cast("double"), F.lit(0.0))
        ).alias("quote_to_trade_ratio"),
    )


@register(kind="df", context="dataframe")
def idle_time(
    df: DataFrame,
    ts: str,
    by: Optional[list] = None,
    threshold_ns: int = 1_000_000_000,
    tiebreak: Optional[list] = None,
) -> DataFrame:
    """Fraction of the session spent in inter-tick gaps longer than
    ``threshold_ns``: per group, ``sum(gap | gap > thr) / (max ts - min ts)``
    plus the idle-gap count.

    ``tiebreak`` columns extend the window order past ``ts`` so duplicate
    timestamps (e.g. truncated epochs) lag deterministically; the gap multiset
    is tie-invariant, but a pinned order makes the plan bit-reproducible.
    """
    by = list(by or [])
    over = Over(order_by=[ts, *(tiebreak or [])], partition_by=by or None)
    gap = to_col(ts) - F.lag(to_col(ts), 1).over(over.w_ordered("idle_time"))
    pre = df.withColumn("__gap", gap)
    g = pre.groupBy(*by) if by else pre.groupBy()
    thr = F.lit(int(threshold_ns))
    idle = F.sum(F.when(F.col("__gap") > thr, F.col("__gap")).otherwise(F.lit(0)))
    span = F.max(ts) - F.min(ts)
    return g.agg(
        F.sum(F.when(F.col("__gap") > thr, 1).otherwise(0)).alias("n_idle_gaps"),
        # NULL on a zero span (single-event groups; ANSI zero-div audit, r13)
        F.when(
            span != 0, idle.cast("double") / span.cast("double")
        ).alias("idle_frac"),
    )


@register(kind="df", context="dataframe")
def detect_bursts(
    df: DataFrame,
    ts: str,
    by: Optional[list] = None,
    bar_ns: int = 60 * 1_000_000_000,
    lookback_bars: int = 30,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Flag time bars whose tick count is a z-score outlier vs the trailing
    ``lookback_bars`` bars: bin -> count -> rolling mean/std window -> flag.
    The rolling window runs over the (already thousands-fold smaller) bar
    grid, not the raw ticks."""
    by = list(by or [])
    bar = (to_col(ts) - (to_col(ts) % F.lit(int(bar_ns)))).alias("bar_ts")
    counts = df.groupBy(*by, bar).agg(F.count(F.lit(1)).alias("n_ticks"))
    over = Over(order_by="bar_ts", partition_by=by or None)
    w = over.w_ordered("detect_bursts").rowsBetween(-lookback_bars, -1)
    mu = F.avg("n_ticks").over(w)
    sd = F.stddev_samp("n_ticks").over(w)
    # Floor sd at epsilon: a perfectly flat trailing history (sd = 0) must
    # still flag a jump, and ANSI mode would otherwise raise on the divide.
    z = (F.col("n_ticks") - mu) / F.greatest(F.coalesce(sd, F.lit(0.0)), F.lit(1e-9))
    # is_burst is never NULL: bars with no trailing history (z undefined)
    # are not bursts rather than unknown — keeps the column a total boolean
    # predicate downstream filters can rely on.
    return counts.select(
        *by,
        "bar_ts",
        "n_ticks",
        z.alias("zscore"),
        F.coalesce(z > F.lit(float(z_threshold)), F.lit(False)).alias("is_burst"),
    )


@register(kind="df", context="dataframe")
def volume_profile(
    df: DataFrame,
    price: str,
    volume: str,
    by: Optional[list] = None,
    bin_width: float = 1.0,
) -> DataFrame:
    """Volume-at-price histogram: total volume and share per price bin."""
    by = list(by or [])
    pbin = (F.floor(to_col(price) / F.lit(float(bin_width))) * F.lit(float(bin_width))).alias(
        "price_bin"
    )
    vol = df.groupBy(*by, pbin).agg(F.sum(volume).cast("double").alias("volume"))
    w = F.sum("volume").over(Over(partition_by=by or None).w_full())
    return vol.select(
        *by, "price_bin", "volume", (F.col("volume") / w).alias("volume_share")
    )


@register(kind="df", context="dataframe")
def rollup_bars(
    bars: DataFrame,
    coarse_ns: int,
    by: Optional[list] = None,
    has_volume: bool = True,
) -> DataFrame:
    """Coarsen OHLCV bars into wider bars WITHOUT re-scanning ticks — the
    hypertable / continuous-aggregate rollup pattern (1min → 5min → 1h → 1d
    cascades reuse each level's partial aggregates).

    Input is :func:`time_bars` output (``bar_ts, open, high, low, close,
    n_ticks, bar_start_ts, bar_end_ts[, volume, vwap]``); ``coarse_ns`` must
    be a multiple of the input bar width. All OHLCV components compose
    exactly: open/close chain through arg-min/arg-max on the fine bars'
    first/last tick timestamps, high/low/counts/volume are min/max/sums, and
    vwap recombines as ``sum(vwap·volume)/sum(volume)`` (= the coarse bar's
    true ``sum(p·v)/sum(v)``). One hash aggregate over rows that number
    ``|ticks| / ticks-per-fine-bar`` — each cascade level costs a vanishing
    fraction of re-barring the tape.
    """
    by = list(by or [])
    coarse = (F.col("bar_ts") - (F.col("bar_ts") % F.lit(int(coarse_ns)))).alias(
        "bar_ts"
    )
    aggs = [
        first_by("open", "bar_start_ts").alias("open"),
        F.max("high").alias("high"),
        F.min("low").alias("low"),
        last_by("close", "bar_end_ts").alias("close"),
        F.sum("n_ticks").alias("n_ticks"),
        F.min("bar_start_ts").alias("bar_start_ts"),
        F.max("bar_end_ts").alias("bar_end_ts"),
    ]
    if has_volume:
        tot = F.sum("volume").cast("double")
        aggs.append(tot.alias("volume"))
        # NULL vwap on a zero-volume coarse bar (ANSI zero-div audit, r13)
        aggs.append(
            F.when(
                tot != 0.0, F.sum(F.col("vwap") * F.col("volume")) / tot
            ).alias("vwap")
        )
    return bars.groupBy(*by, coarse).agg(*aggs)


@register(namespace="tick", kind="df", context="dataframe", alias="vpin")
def vpin(
    df: DataFrame,
    ts: str,
    price: str,
    volume: str,
    by: Optional[list] = None,
    volume_per_bucket: float = 10_000.0,
) -> DataFrame:
    """VPIN — Volume-synchronized Probability of INformed trading (Easley,
    Lopez de Prado & O'Hara 2012): order-flow toxicity in *volume time*.
    Trades are assigned to equal-volume buckets (same cumulative-volume
    key as [[volume_bars]], whole-trade assignment); each bucket's
    toxicity is ``|buy volume − sell volume| / bucket volume`` with
    direction from [[tick_rule]]; VPIN is the mean bucket toxicity per
    key. High VPIN preceded the 2010 flash crash — the canonical
    flow-toxicity monitor.

    Plan shape: one ordered window per key (the tick-rule lag and the
    running volume share a single window spec), a (key, bucket)
    aggregate, then a tiny per-key aggregate over bucket rows — shuffle
    volume after the first aggregate is bounded by bucket count, not
    trade count.

    Returns ``(keys, vpin, n_buckets, total_volume)``.
    """
    from ffn_polars_spark.functions.tick_direction import tick_rule

    by = list(by or [])
    over = Over(order_by=ts, partition_by=by or None)
    v = to_col(volume).cast("double")
    sv = tick_rule(price, over=over).cast("double") * v
    cum = F.sum(volume).over(over.w_cum("vpin"))
    pre = df.withColumn("__sv", sv).withColumn(
        "__bucket",
        ((cum - v) / F.lit(float(volume_per_bucket))).cast("long"),
    )
    buckets = pre.groupBy(*(by + ["__bucket"])).agg(
        F.sum("__sv").alias("__imb"),
        F.sum(v).alias("__vol"),
    )
    g = buckets.groupBy(*by) if by else buckets.groupBy()
    return g.agg(
        F.avg(
            F.when(F.col("__vol") > 0, F.abs(F.col("__imb")) / F.col("__vol"))
        ).alias("vpin"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("__vol").alias("total_volume"),
    )


@register(namespace="tick", kind="df", context="dataframe", alias="corwin_schultz")
def corwin_schultz(
    df: DataFrame,
    high: str = "high",
    low: str = "low",
    order_by: str = "bar_ts",
    by: Optional[list] = None,
) -> DataFrame:
    """Corwin-Schultz (2012) high-low spread estimator over an OHLC bar
    frame (build one with [[time_bars]]): consecutive bar pairs give
    ``beta = ln(H_t/L_t)^2 + ln(H_{t+1}/L_{t+1})^2`` and
    ``gamma = ln(max(H)/min(L))^2`` over the pair;
    ``alpha = (sqrt(2*beta) - sqrt(beta))/(3 - 2*sqrt(2))
    - sqrt(gamma/(3 - 2*sqrt(2)))`` and the spread is
    ``2*(e^alpha - 1)/(1 + e^alpha)``, clamped at zero per pair before
    averaging (the paper's negative-spread convention). Estimates the
    bid-ask spread from bars alone — the daily-data companion to
    [[roll_spread]]'s trade-by-trade estimator.

    One ``lead`` window per key over the (already aggregated, small) bar
    frame, then a map-side average — one exchange on the bar frame.

    Returns ``(keys, cs_spread, n_pairs)``.
    """
    from pyspark.sql.window import Window

    by = list(by or [])
    w = (
        Window.partitionBy(*by).orderBy(order_by)
        if by
        else Window.orderBy(order_by)
    )
    h, l = to_col(high).cast("double"), to_col(low).cast("double")
    h2, l2 = F.lead(h).over(w), F.lead(l).over(w)
    # a non-positive low makes the log ratios undefined (and the bare
    # division throws under ANSI) — such pairs are dropped, not zeroed
    ok = (l > 0) & (l2 > 0)
    beta = F.when(
        ok, F.pow(F.log(h / l), F.lit(2)) + F.pow(F.log(h2 / l2), F.lit(2))
    )
    gamma = F.when(
        ok, F.pow(F.log(F.greatest(h, h2) / F.least(l, l2)), F.lit(2))
    )
    k = 3.0 - 2.0 * 2.0 ** 0.5
    alpha = (F.sqrt(F.lit(2.0) * beta) - F.sqrt(beta)) / F.lit(k) - F.sqrt(
        gamma / F.lit(k)
    )
    s = F.lit(2.0) * (F.exp(alpha) - F.lit(1.0)) / (F.lit(1.0) + F.exp(alpha))
    # guard on the lead's existence AND a defined spread: greatest()
    # skips NULLs, so an unguarded clamp would turn the (pairless) last
    # bar — or an undefined pair — into a spurious zero-spread
    # observation instead of dropping it
    pre = df.withColumn(
        "__s", F.when(h2.isNotNull() & s.isNotNull(), F.greatest(s, F.lit(0.0)))
    )
    g = pre.groupBy(*by) if by else pre.groupBy()
    return g.agg(
        F.avg("__s").alias("cs_spread"),
        F.count("__s").alias("n_pairs"),
    )


@register(namespace="tick", kind="df", context="dataframe", alias="imbalance_bars")
def imbalance_bars(
    df: DataFrame,
    ts_col: str,
    price_col: str,
    volume_col: str,
    threshold: float,
    by: Optional[list] = None,
) -> DataFrame:
    """Tick-imbalance bars (the information-driven bar family of López de
    Prado's *Advances in Financial Machine Learning*, ch. 2): sign each
    tick with the tick rule (carry the last non-zero sign through flats),
    accumulate signed volume, and CLOSE a bar the moment the running
    |imbalance| reaches ``threshold`` — bars arrive faster when informed
    flow arrives, unlike clock-driven [[time_bars]].

    Distribution of labor: the tick sign is a pure window computation
    (``last(nonzero sign) ignorenulls`` — stays JVM-side, one sort per
    key); ONLY the threshold-reset bar assignment is inherently
    sequential, so it runs as a per-key Arrow-batched scan emitting a
    ``bar_id`` (the [[ewma]] distribution contract: bounded rows per key,
    unbounded keys in parallel); per-bar OHLCV/imbalance stats are then a
    plain JVM aggregate. With integer-valued volumes the running
    imbalance is integer-valued in float64, so the threshold comparison
    is exact and engine-replayable (the oracle walks the same reset
    recurrence in a recursive CTE).

    Float caveat (discrete, not 1-ulp): the scan computes the running
    imbalance as a prefix-sum difference ``P[i] - P[boundary]``. With
    FRACTIONAL volumes this can round differently from a sequential
    ``cum += flow`` walk, and a difference at the threshold flips a
    *boundary decision* — shifting where a bar closes, a discrete
    segmentation change rather than a last-ulp value change. This
    operator and its oracle share the prefix-sum form, so they always
    agree with each other; quantize volumes first if bit-parity with a
    sequential-walk implementation is required.

    Returns ``(*by, bar_id, bar_start_ts, bar_end_ts, open, high, low,
    close, volume, imbalance, n_ticks)``.
    """
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from ffn_polars_spark.operators.recursive import _scan_by_key

    by = list(by or [])
    w = Window.partitionBy(*by).orderBy(ts_col)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = F.col(price_col) - F.lag(price_col).over(w)
    sign0 = F.signum(d)
    sign = F.coalesce(
        F.last(F.nullif(sign0, F.lit(0.0)), ignorenulls=True).over(wcum),
        F.lit(0.0),
    )
    staged = df.select(
        *by,
        F.col(ts_col).alias("__ts"),
        F.col(price_col).alias("__p"),
        F.col(volume_col).cast("double").alias("__v"),
        (sign * F.col(volume_col).cast("double")).alias("__flow"),
    )
    thr = float(threshold)

    def assign(pdf):
        # Vectorized reset walk: cum-since-boundary == P - P[boundary]
        # (prefix sums), so each bar's close is the first index whose
        # |P - base| reaches the threshold — found with blocked numpy
        # scans (O(rows + bars·block) total, no interpreted per-row loop).
        # With integer-valued flows the subtraction is exact, so this is
        # bit-identical to the sequential accumulate (which the oracle's
        # per-bar boundary search replays the same way). With fractional
        # float flows the caveat is DISCRETE, not just 1-ulp-in-values:
        # P[i]-base and the sequential cum+=f walk can round differently,
        # and a rounding difference AT the threshold flips a boundary
        # decision — changing bar segmentation, not merely a value in the
        # last ulp. The operator and its SQL oracle share this prefix-sum
        # formulation so they agree with each other; quantize flows before
        # calling if replaying a sequential-walk implementation matters.
        P = np.cumsum(pdf["__flow"].to_numpy(dtype=np.float64))
        n = len(P)
        bars = np.empty(n, dtype=np.int64)
        start, base, bar, block = 0, 0.0, 1, 8192
        while start < n:
            j = -1
            for lo in range(start, n, block):
                hits = np.nonzero(np.abs(P[lo : lo + block] - base) >= thr)[0]
                if len(hits):
                    j = lo + int(hits[0])
                    break
            if j < 0:  # tail never reaches the threshold: last partial bar
                bars[start:] = bar
                break
            bars[start : j + 1] = bar
            bar += 1
            base = P[j]
            start = j + 1
        return (bars,)

    assigned = _scan_by_key(staged, by, "__ts", [("__bar", T.LongType())], assign)
    g = assigned.groupBy(*(by + ["__bar"]))
    return g.agg(
        F.min("__ts").alias("bar_start_ts"),
        F.max("__ts").alias("bar_end_ts"),
        F.min_by("__p", "__ts").alias("open"),
        F.max("__p").alias("high"),
        F.min("__p").alias("low"),
        F.max_by("__p", "__ts").alias("close"),
        F.sum("__v").alias("volume"),
        F.sum("__flow").alias("imbalance"),
        F.count(F.lit(1)).alias("n_ticks"),
    ).withColumnRenamed("__bar", "bar_id")


@register(namespace="tick", kind="df", context="dataframe", alias="triple_barrier_label")
def triple_barrier_label(
    df: DataFrame,
    price_col: str,
    ts_col: str,
    horizon: int = 20,
    up_pct: float = 0.01,
    down_pct: float = 0.01,
    by: Optional[list] = None,
) -> DataFrame:
    """Triple-barrier labeling (López de Prado, AFML ch. 3): for each
    anchor tick, look at the next ``horizon`` ticks and label +1 if the
    upper barrier ``p₀(1+up)`` is touched first, −1 if the lower barrier
    ``p₀(1−down)`` is touched first, 0 if neither before the (row-count)
    time barrier — the path-dependent label supervised models train on,
    where a fixed-horizon return label would mislabel every round trip.

    Shape: ONE ordered window collects the bounded future-price array
    (``ROWS BETWEEN 1 FOLLOWING AND horizon FOLLOWING`` — O(horizon) per
    row, never the unbounded future), then first-touch indices come from
    JVM array lambdas (``transform`` + ``array_min``); no self-join, no
    explode. An engine without bounded-frame list aggregation replays it
    as a range self-join (the oracle's shape).

    Returns the anchor rows + ``(label, first_hit, up_bar, down_bar)``;
    ``first_hit`` is the touch offset in rows (NULL when the time barrier
    wins).
    """
    from pyspark.sql import Window

    by = list(by or [])
    w = (
        Window.partitionBy(*by)
        .orderBy(ts_col)
        .rowsBetween(1, int(horizon))
    )
    p = F.col(price_col).cast("double")
    up_bar = p * F.lit(1.0 + float(up_pct))
    dn_bar = p * F.lit(1.0 - float(down_pct))
    staged = (
        df.withColumn("__fut", F.collect_list(p).over(w))
        .withColumn("__up", up_bar)
        .withColumn("__dn", dn_bar)
    )
    first_ge = F.array_min(
        F.transform(
            F.col("__fut"),
            lambda v, i: F.when(v >= F.col("__up"), i + F.lit(1)),
        )
    )
    first_le = F.array_min(
        F.transform(
            F.col("__fut"),
            lambda v, i: F.when(v <= F.col("__dn"), i + F.lit(1)),
        )
    )
    out = staged.withColumn("__u1", first_ge).withColumn("__d1", first_le)
    label = (
        F.when(
            F.col("__u1").isNotNull()
            & (F.col("__d1").isNull() | (F.col("__u1") <= F.col("__d1"))),
            F.lit(1),
        )
        .when(F.col("__d1").isNotNull(), F.lit(-1))
        .otherwise(F.lit(0))
    )
    return (
        out.withColumn("label", label)
        .withColumn("first_hit", F.least("__u1", "__d1"))
        .withColumnRenamed("__up", "up_bar")
        .withColumnRenamed("__dn", "down_bar")
        .drop("__fut", "__u1", "__d1")
    )
