"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.12), but a Spark-native engine gets
streaming nearly for free: the same declarative aggregations run under
``readStream`` with watermarks bounding state. This module provides streaming
twins of the core tick, corpus and monitoring operators:

* :func:`read_tick_stream` — file-source stream over a parquet tick directory.
* :func:`run_available_now` — drain a bounded stream to a memory sink and
  return the result table (test/driver harness).
* Watermarked windowed aggregations: :func:`streaming_time_bars` (OHLCV
  bars), :func:`streaming_vwap`, :func:`streaming_histogram`, and
  :func:`streaming_session_stats` (``F.session_window`` gap sessions, the
  streaming twin of operators/sessions.py).
* Stream-stream joins: :func:`streaming_interval_join` and
  :func:`streaming_preagg_interval_join` (bars first, then the join).
* :func:`streaming_dedup_exact` (first-seen dedup within the watermark) and
  :func:`streaming_topk` (complete-mode heavy hitters).
* Per-key state that outlives any window, via ``applyInPandasWithState``:
  :func:`stateful_running_vwap`, :func:`stateful_psi` and
  :func:`stateful_kmv_distinct` fold order-free;
  :func:`stateful_realized_volatility`, :func:`stateful_zscore_alerts` and
  :func:`stateful_cusum` fold each batch in event-time order. All six run
  through one driver, ``_fold_by_key``, which owns the state schema, the
  TTL eviction, the in-batch ordering and the output row; an operator
  supplies only its fold.

Design notes for scale: every aggregation keys on (window x partition key) so
state is bounded by ``delay_threshold``; append output mode + watermark is
the production path (complete mode exists only for the bounded test drain).
"""

from __future__ import annotations

import uuid
from typing import Callable, Iterable, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ffn_polars_spark.core import ns_to_timestamp
from ffn_polars_spark.sources import footer_schema

__all__ = [
    "read_tick_stream",
    "run_available_now",
    "streaming_time_bars",
    "streaming_vwap",
    "streaming_histogram",
    "streaming_session_stats",
    "streaming_interval_join",
    "streaming_preagg_interval_join",
    "streaming_dedup_exact",
    "streaming_topk",
    "stateful_running_vwap",
    "stateful_realized_volatility",
    "stateful_zscore_alerts",
    "stateful_cusum",
    "stateful_psi",
    "stateful_kmv_distinct",
]


def read_tick_stream(
    spark: SparkSession,
    path: str,
    schema: Optional[StructType] = None,
    ts_col: str = "ts",
    max_files_per_trigger: Optional[int] = None,
) -> DataFrame:
    """Stream a parquet directory as a tick tape with an event-time column.

    ``ts_col`` may be epoch-ns LongType (the engine's tick time axis) or a
    timestamp; an ``event_time`` TimestampType column is derived for
    watermarking either way. Without ``schema``, a one-file directory's
    schema comes from its parquet footer on the driver
    (:func:`~ffn_polars_spark.sources.footer_schema`); anything else runs
    the batch reader's inference job.
    """
    if schema is None:
        schema = footer_schema(spark, path) or spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    df = reader.parquet(path)
    dt = dict(zip(df.columns, [f.dataType for f in df.schema.fields]))[ts_col]
    if isinstance(dt, LongType):
        return df.withColumn("event_time", ns_to_timestamp(ts_col))
    return df.withColumn("event_time", F.col(ts_col).cast("timestamp"))


def _ohlcv_window_aggs(price: str, volume: Optional[str]) -> list:
    aggs = [
        F.min(F.struct(F.col("event_time").alias("k"), F.col(price).alias("v")))
        .getField("v")
        .alias("open"),
        F.max(price).alias("high"),
        F.min(price).alias("low"),
        F.max(F.struct(F.col("event_time").alias("k"), F.col(price).alias("v")))
        .getField("v")
        .alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    ]
    if volume is not None:
        tot = F.sum(volume).cast("double")
        aggs.append(tot.alias("volume"))
        # NULL vwap on a zero-volume bar (ANSI zero-div audit, r13)
        aggs.append(
            F.when(tot != 0.0, F.sum(F.col(price) * F.col(volume)) / tot).alias(
                "vwap"
            )
        )
    return aggs


def streaming_time_bars(
    stream: DataFrame,
    price: str,
    volume: Optional[str] = None,
    by: Optional[List[str]] = None,
    bar: str = "1 minute",
    delay_threshold: str = "1 minute",
) -> DataFrame:
    """Watermarked tumbling-window OHLCV bars over a tick stream.

    State per (key x open window) only; windows older than the watermark are
    finalized and dropped — bounded memory at any throughput.
    """
    by = list(by or [])
    w = stream.withWatermark("event_time", delay_threshold)
    return (
        w.groupBy(F.window("event_time", bar).alias("bar"), *by)
        .agg(*_ohlcv_window_aggs(price, volume))
        .select(
            F.col("bar.start").alias("bar_start"),
            F.col("bar.end").alias("bar_end"),
            *by,
            "open",
            "high",
            "low",
            "close",
            "n_ticks",
            *(["volume", "vwap"] if volume else []),
        )
    )


def streaming_vwap(
    stream: DataFrame,
    price: str,
    volume: str,
    by: Optional[List[str]] = None,
    bar: str = "1 minute",
    delay_threshold: str = "1 minute",
) -> DataFrame:
    """Watermarked per-window VWAP (streaming twin of tick #31)."""
    by = list(by or [])
    w = stream.withWatermark("event_time", delay_threshold)
    return (
        w.groupBy(F.window("event_time", bar).alias("bar"), *by)
        .agg(
            # NULL vwap on a zero-volume bar (ANSI zero-div audit, r13)
            F.when(
                F.sum(volume).cast("double") != 0.0,
                F.sum(F.col(price) * F.col(volume))
                / F.sum(volume).cast("double"),
            ).alias(f"{price}_vwap"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            F.col("bar.start").alias("bar_start"), *by, f"{price}_vwap", "n_ticks"
        )
    )


def streaming_session_stats(
    stream: DataFrame,
    key: str,
    gap: str = "30 minutes",
    delay_threshold: str = "1 minute",
) -> DataFrame:
    """Gap-based sessions via ``F.session_window`` — the streaming-native
    form of operators/sessions.py (which uses the lag-cumsum idiom in batch)."""
    w = stream.withWatermark("event_time", delay_threshold)
    return (
        w.groupBy(F.session_window("event_time", gap).alias("session"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key),
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
        )
    )


def streaming_histogram(
    stream: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int = 20,
    by: Optional[List[str]] = None,
    bar: str = "1 minute",
    delay_threshold: str = "1 minute",
) -> DataFrame:
    """Watermarked per-window fixed-width histogram (streaming twin of
    operators/sketch.value_histogram): live value-distribution monitoring —
    price-band concentration, latency buckets, drift alarms.

    Values clamp into the edge bins (total histogram, nothing dropped).
    State is one count per (window × group × non-empty bin), capped at
    ``nbins`` rows per group-window regardless of throughput, and windows
    older than the watermark are finalized and dropped — strictly bounded
    memory, the same guarantee as streaming_time_bars.
    """
    by = list(by or [])
    width = (float(hi) - float(lo)) / int(nbins)
    raw = F.floor((F.col(value_col) - F.lit(float(lo))) / F.lit(width)).cast("int")
    b = F.least(F.lit(int(nbins) - 1), F.greatest(F.lit(0), raw))
    w = stream.withWatermark("event_time", delay_threshold)
    return (
        w.groupBy(F.window("event_time", bar).alias("bar"), *by, b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("bar.start").alias("bar_start"),
            *by,
            "bin",
            (F.lit(float(lo)) + F.col("bin") * F.lit(width)).alias("bin_lo"),
            "n",
        )
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_ts: str = "event_time",
    right_ts: str = "event_time",
    lookback: str = "1 hour",
    delay_threshold: str = "1 minute",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with a time-interval condition: each left
    event matches right events with the same key whose timestamp falls in
    ``[left_ts - lookback, left_ts]`` — the streaming twin of
    operators/ranges.interval_join (attribution joins, quote context for a
    trade stream, feature lookback windows).

    This is the canonical Structured Streaming join shape: BOTH sides are
    watermarked and the join condition bounds event-time distance, so Spark
    can expire buffered rows once the watermark passes ``lookback +
    delay_threshold`` — state is a sliding window over each stream, not the
    whole history. Without the time bound a stream-stream join must buffer
    both streams forever; the interval IS the state-eviction contract.
    Column names must be disjoint across the two sides (alias before
    joining).
    """
    l = left.withWatermark(left_ts, delay_threshold)
    r = right.withWatermark(right_ts, delay_threshold)
    cond = (
        (F.col(left_on) == F.col(right_on))
        & (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {lookback}"))
        & (F.col(right_ts) <= F.col(left_ts))
    )
    return l.join(r, cond, how)


def streaming_preagg_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    left_aggs: dict,
    right_aggs: dict,
    bar: str = "1 second",
    left_ts: str = "event_time",
    right_ts: str = "event_time",
    lookback: str = "1 hour",
    delay_threshold: str = "1 minute",
) -> DataFrame:
    """Stream-stream interval join over PRE-AGGREGATED bars — the measured
    mitigation for :func:`streaming_interval_join`'s state cost.

    A raw tick-tick interval join buffers BOTH streams' rows in the state
    store until the watermark passes ``lookback + delay_threshold``; its
    per-row cost is 1–2 orders above a stateless aggregation (measured
    ~43k rows/s vs 1–4M rows/s for everything else in tools/stream_bench).
    When the consumer joins *windowed context* rather than individual rows
    — quote context for a trade stream, cross-venue flow comparison — the
    right shape is: windowed aggregation on EACH side first (stateless-ish,
    map-side partial aggregates, one state row per key × bar), then the
    interval join over bar rows, whose state is smaller than the tick
    state by the ticks-per-bar factor. Spark ≥ 3.5 supports this chaining
    of stateful operators in append mode; the ``window().end`` column
    carries event-time semantics through the aggregate, so the join's
    watermark eviction works exactly as in the raw-tick join.

    ``left_aggs`` / ``right_aggs``: ``{output_name: aggregate Column}``
    computed per (key, bar) — e.g. ``{"l_vwap": (F.sum(price*vol) /
    F.sum(vol))}``. Names must be disjoint across the two sides. The join
    keys need NOT be: both sides are aliased to internal names before the
    join, so ``left_on == right_on`` (the natural call — ``'ticker'`` on
    both streams) is supported; the output carries the key as ``left_on``.

    Each left bar matches right bars of the same key whose bar END falls
    in ``[left_end - lookback, left_end]`` (bars are half-open
    ``[start, end)``; comparing ends is comparing bar identities, and a
    bar joins itself — the contemporaneous bar — first). Returns
    ``(left_on, l_bar_start, *left_aggs, r_bar_start, *right_aggs)``.
    """
    l = (
        left.withWatermark(left_ts, delay_threshold)
        .groupBy(F.window(left_ts, bar).alias("__lw"), F.col(left_on))
        .agg(*[c.alias(n) for n, c in left_aggs.items()])
        .select(
            F.col(left_on).alias("__lk"),
            F.col("__lw.start").alias("l_bar_start"),
            F.col("__lw.end").alias("l_bar_end"),
            *left_aggs.keys(),
        )
    )
    r = (
        right.withWatermark(right_ts, delay_threshold)
        .groupBy(F.window(right_ts, bar).alias("__rw"), F.col(right_on))
        .agg(*[c.alias(n) for n, c in right_aggs.items()])
        .select(
            F.col(right_on).alias("__rk"),
            F.col("__rw.start").alias("r_bar_start"),
            F.col("__rw.end").alias("r_bar_end"),
            *right_aggs.keys(),
        )
    )
    # internal __lk/__rk key aliases: with left_on == right_on (the natural
    # same-name call) a raw F.col(left_on) == F.col(right_on) condition is
    # an AMBIGUOUS_REFERENCE error
    cond = (
        (F.col("__lk") == F.col("__rk"))
        & (F.col("r_bar_end") >= F.col("l_bar_end") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("r_bar_end") <= F.col("l_bar_end"))
    )
    return l.join(r, cond, "inner").select(
        F.col("__lk").alias(left_on),
        "l_bar_start",
        *left_aggs.keys(),
        "r_bar_start",
        *right_aggs.keys(),
    )


def streaming_dedup_exact(
    stream: DataFrame,
    text_col: str = "text",
    delay_threshold: str = "10 minutes",
) -> DataFrame:
    """First-seen exact dedup over a document stream (streaming twin of
    operators/dedup.dedup_exact's keep-canonical path).

    Content fingerprint = md5 of normalized text, computed map-side; then
    ``dropDuplicatesWithinWatermark`` emits only the first occurrence of
    each fingerprint and expires its state once the watermark passes —
    bounded memory, unlike a plain streaming ``dropDuplicates`` whose seen-
    set grows forever. The contract is therefore *dedup within the
    watermark horizon*: a duplicate arriving later than ``delay_threshold``
    after its original re-emits — the standard streaming-dedup trade-off.
    """
    from ffn_polars_spark.operators.dedup import normalized_text

    w = stream.withWatermark("event_time", delay_threshold)
    fp = w.withColumn("fingerprint", F.md5(normalized_text(F.col(text_col))))
    return fp.dropDuplicatesWithinWatermark(["fingerprint"])


def _fold_by_key(
    stream: DataFrame,
    key: str,
    state: list,
    init: tuple,
    fold: Callable[[tuple, pd.DataFrame], tuple],
    emit: Callable[[tuple], tuple],
    result: list,
    idle_timeout_ms: Optional[int],
    ts: Optional[str] = None,
) -> DataFrame:
    """The one ``applyInPandasWithState`` driver of the stateful operators.

    Per key and micro-batch: restore the carry (``init`` for a new key),
    ``carry = fold(carry, pdf)`` over the batch's non-empty rows, store it,
    and emit one update-mode row ``(key, *emit(carry))``. ``state`` and
    ``result`` are ``(name, type)`` lists: the carry's fields, and the
    output fields after the string ``key`` column.

    With ``ts`` the fold is sequential: the batch's Arrow chunks are
    concatenated, stable-sorted by ``ts`` once and folded once. A large
    group arrives as several chunks in arbitrary order, and sorting each
    chunk on its own would fold across a seam where chunk 2 holds earlier
    timestamps than chunk 1. Without ``ts`` the fold is order-free and
    runs chunk by chunk.

    ``idle_timeout_ms`` is the processing-time TTL: a key idle longer is
    evicted and restarts from ``init``; ``None`` keeps state for the
    query's lifetime.
    """
    names = [n for n, _ in result]

    def update(key_tuple, pdf_iter: Iterable[pd.DataFrame], gs: GroupState):
        if idle_timeout_ms is not None and gs.hasTimedOut:
            gs.remove()
            return
        carry = gs.get if gs.exists else init
        if ts is None:
            for pdf in pdf_iter:
                if len(pdf):
                    carry = fold(carry, pdf)
        else:
            chunks = [pdf for pdf in pdf_iter if len(pdf)]
            if chunks:
                batch = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
                carry = fold(carry, batch.sort_values(ts, kind="stable"))
        gs.update(carry)
        if idle_timeout_ms is not None:
            gs.setTimeoutDuration(idle_timeout_ms)
        row = {key: [key_tuple[0]]}
        row.update((n, [v]) for n, v in zip(names, emit(carry)))
        yield pd.DataFrame(row)

    return stream.groupBy(key).applyInPandasWithState(
        update,
        outputStructType=StructType(
            [StructField(key, StringType())]
            + [StructField(n, t) for n, t in result]
        ),
        stateStructType=StructType([StructField(n, t) for n, t in state]),
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if idle_timeout_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


def stateful_running_vwap(
    stream: DataFrame,
    key: str,
    price: str,
    volume: str,
    idle_timeout_ms: Optional[int] = None,
) -> DataFrame:
    """Running (lifetime) per-key VWAP via ``applyInPandasWithState``.

    The window/session operators above bound state by event time; this is the
    pattern for state that must NOT expire — a cumulative (sum(p*v), sum(v))
    pair per key, updated every micro-batch, emitted in update mode.

    State-size contract: with the default ``idle_timeout_ms=None`` the state
    lives for the lifetime of the query (``GroupStateTimeout.NoTimeout``).
    That is correct — and bounded — for ticker-cardinality key domains
    (thousands of keys x 16 bytes); it grows WITHOUT BOUND for open-ended
    key domains (user ids, doc ids) at 100 TB.  For those, pass
    ``idle_timeout_ms``: keys idle longer than the timeout are evicted
    (processing-time TTL) and silently re-created from zero on their next
    event, turning lifetime state into a bounded working set.
    """

    def fold(carry, pdf):
        pv, v = carry
        pv += float((pdf[price] * pdf[volume]).sum())
        v += float(pdf[volume].sum())
        return pv, v

    return _fold_by_key(
        stream,
        key,
        state=[("pv", DoubleType()), ("v", DoubleType())],
        init=(0.0, 0.0),
        fold=fold,
        emit=lambda c: (c[1], c[0] / c[1] if c[1] else None),
        result=[("cum_volume", DoubleType()), ("running_vwap", DoubleType())],
        idle_timeout_ms=idle_timeout_ms,
    )


def run_available_now(result: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drain a bounded stream with an available-now trigger into a memory
    sink; return the sink table. Harness for tests and the correctness gate
    (production writes go to parquet/Kafka sinks in append mode instead).

    The memory sink registers a temp view under the query's name. The
    returned frame is resolved against it and the view is dropped, so the
    session's catalog does not grow by one sink per call; the sink's rows
    live as long as the returned frame."""
    spark = result.sparkSession
    name = "s" + uuid.uuid4().hex[:12]
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        # spark.table analyzes eagerly: the frame holds the sink, not the name
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def stateful_realized_volatility(
    stream: DataFrame,
    key: str,
    ts: str,
    price: str,
    idle_timeout_ms: Optional[int] = None,
) -> DataFrame:
    """Running realized volatility per key via ``applyInPandasWithState`` —
    the sequence-dependent stateful pattern: the state carries the LAST
    observation (timestamp + log price) so the first return of each
    micro-batch chains to the previous batch, plus the running sum of squared
    log returns. Batch twin: functions/tick_price.calc_realized_volatility.

    Rows inside a batch are sorted by event time before updating; exactness
    across batches requires in-order file/partition delivery per key (true
    for the availableNow drains used in tests; production streams should
    window instead when late data is possible).

    State-size contract: same as :func:`stateful_running_vwap` — the default
    ``NoTimeout`` assumes a bounded (ticker-cardinality) key domain; pass
    ``idle_timeout_ms`` for open-ended key domains so idle keys are evicted
    (processing-time TTL) and restart from zero on their next event.
    """
    import math

    def fold(carry, batch):
        last_ts, last_lp, sum_sq, n = carry
        for t_val, p_val in zip(batch[ts], batch[price]):
            lp = math.log(float(p_val))
            if last_lp is not None:
                r = lp - last_lp
                sum_sq += r * r
                n += 1
            last_ts, last_lp = int(t_val), lp
        return last_ts, last_lp, sum_sq, n

    return _fold_by_key(
        stream,
        key,
        state=[
            ("last_ts", LongType()),
            ("last_log_price", DoubleType()),
            ("sum_sq", DoubleType()),
            ("n_returns", LongType()),
        ],
        init=(None, None, 0.0, 0),
        fold=fold,
        # no returns yet -> NULL, matching the batch twin's contract
        # (calc_realized_volatility: sum over an empty return set is NULL,
        # not 0 — property-battery find, r12)
        emit=lambda c: (c[3], math.sqrt(c[2]) if c[3] else None),
        result=[("n_returns", LongType()), ("realized_volatility", DoubleType())],
        idle_timeout_ms=idle_timeout_ms,
        ts=ts,
    )


def streaming_topk(
    stream: DataFrame,
    key_cols: Iterable[str],
    k: int = 10,
) -> DataFrame:
    """Live heavy hitters: the ``k`` most frequent keys so far, maintained
    by a complete-mode streaming aggregation (hot tickers, hot documents,
    abusive clients). Ties break by key so the boundary is deterministic.

    Complete mode re-emits the full top-k on every trigger — the sort +
    limit runs over the AGGREGATED state (one row per distinct key), not
    the stream, so each trigger's extra work is bounded by key cardinality.
    State is one count per distinct key: bounded for the
    ticker/client-shaped domains this is for; for unbounded key domains
    (doc ids) window the stream first (streaming_time_bars-style) so the
    watermark can evict.
    """
    keys = list(key_cols)
    agg = stream.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    return agg.orderBy(F.desc("n"), *[F.asc(c) for c in keys]).limit(int(k))


def stateful_zscore_alerts(
    stream: DataFrame,
    key: str,
    ts: str,
    value: str,
    threshold: float = 3.0,
    min_obs: int = 30,
    idle_timeout_ms: Optional[int] = None,
) -> DataFrame:
    """Streaming anomaly counter via ``applyInPandasWithState``: each
    event is scored against the cumulative distribution of every PRIOR
    event of its key — alert when ``|x − mean_prior| > threshold ·
    std_prior`` once ``min_obs`` observations back the estimate. Because
    the score uses only prior events, the semantics are genuinely
    sequential (the same event alerts or not depending on arrival order),
    which is exactly what the chained ``(n, Σx, Σx²)`` state preserves
    across micro-batches — the [[streaming_realized_vol]] pattern with a
    per-event decision folded into the state.

    In-batch scoring is a vectorized prefix-sum (numpy ``cumsum`` chains
    the carried sums — identical float sequence to a scalar scan);
    nothing is ever re-scored, so a drained run's final update per key is
    reproducible by a batch cumulative-window SQL twin. State is 4
    numbers per key; the usual ``idle_timeout_ms`` TTL applies for
    open-ended key domains. Emits ``(key, n_events, n_alerts)`` in update
    mode.
    """

    import numpy as np

    def fold(carry, batch):
        n, sum_x, sum_sq, n_alerts = carry
        x = batch[value].to_numpy(dtype=np.float64)
        cs = sum_x + np.cumsum(x)
        csq = sum_sq + np.cumsum(x * x)
        prior_n = n + np.arange(len(x), dtype=np.int64)
        prior_sum = np.concatenate(([sum_x], cs[:-1]))
        prior_sq = np.concatenate(([sum_sq], csq[:-1]))
        ok = prior_n >= int(min_obs)
        with np.errstate(invalid="ignore", divide="ignore"):
            m = np.where(prior_n > 0, prior_sum / prior_n, np.nan)
            var = np.where(
                prior_n > 1,
                (prior_sq - prior_sum * prior_sum / np.where(prior_n > 0, prior_n, 1))
                / np.where(prior_n > 1, prior_n - 1, 1),
                np.nan,
            )
            alert = (
                ok
                & (var > 0)
                & (np.abs(x - m) > float(threshold) * np.sqrt(var))
            )
        return n + len(x), float(cs[-1]), float(csq[-1]), n_alerts + int(alert.sum())

    return _fold_by_key(
        stream,
        key,
        state=[
            ("n", LongType()),
            ("sum_x", DoubleType()),
            ("sum_sq", DoubleType()),
            ("n_alerts", LongType()),
        ],
        init=(0, 0.0, 0.0, 0),
        fold=fold,
        emit=lambda c: (c[0], c[3]),
        result=[("n_events", LongType()), ("n_alerts", LongType())],
        idle_timeout_ms=idle_timeout_ms,
        ts=ts,
    )


def stateful_cusum(
    stream: DataFrame,
    key: str,
    ts: str,
    value: str,
    target: float,
    threshold: float,
    drift: float = 0.0,
    idle_timeout_ms: Optional[int] = None,
) -> DataFrame:
    """Streaming two-sided CUSUM change-point monitor via
    ``applyInPandasWithState`` — the online twin of the batch
    ``operators.recursive.cusum_changepoints`` walk: per key, accumulate
    ``s⁺/s⁻`` across micro-batches (state = the two sides + segment and
    alarm counters), alarm and reset exactly as the batch recurrence
    does. Because the recurrence is pure fixed-order IEEE arithmetic, a
    drained run's final state per key is bit-identical to the batch
    walk's last row (post-reset if that row alarmed) — the property the
    oracle checks via the final ``cusum_pos``/``cusum_neg`` state.

    State is 5 numbers per key; ``idle_timeout_ms`` applies the usual TTL
    for open-ended key domains. Emits ``(key, n_events, n_alarms,
    cusum_pos, cusum_neg)`` in update mode.
    """
    import numpy as np

    tgt, thr, dft = float(target), float(threshold), float(drift)

    def fold(carry, batch):
        sp, sn, seg, n, n_alarms = carry
        x = batch[value].to_numpy(dtype=np.float64)
        for xi in x:
            e = xi - tgt
            sp = max(0.0, sp + e - dft)
            sn = max(0.0, sn - e - dft)
            if sp > thr or sn > thr:
                n_alarms += 1
                seg += 1
                sp, sn = 0.0, 0.0
        return sp, sn, seg, n + len(x), n_alarms

    return _fold_by_key(
        stream,
        key,
        state=[
            ("sp", DoubleType()),
            ("sn", DoubleType()),
            ("seg", LongType()),
            ("n", LongType()),
            ("n_alarms", LongType()),
        ],
        init=(0.0, 0.0, 1, 0, 0),
        fold=fold,
        emit=lambda c: (c[3], c[4], c[0], c[1]),
        result=[
            ("n_events", LongType()),
            ("n_alarms", LongType()),
            ("cusum_pos", DoubleType()),
            ("cusum_neg", DoubleType()),
        ],
        idle_timeout_ms=idle_timeout_ms,
        ts=ts,
    )


def stateful_psi(
    stream: DataFrame,
    key: str,
    value: str,
    ref_probs,
    lo: float,
    width: float,
    eps: float = 1e-6,
    idle_timeout_ms: Optional[int] = None,
) -> DataFrame:
    """Streaming Population Stability Index via ``applyInPandasWithState``
    — the online twin of the batch [[psi_drift]] monitor: each key keeps
    its running fixed-width-bin histogram as state (one long per bin),
    and every micro-batch emits the PSI of the accumulated distribution
    against a broadcast reference — drift monitoring that never rescans
    history. Binning is ``clamp(floor((v − lo)/width), 0, nbins−1)``,
    identical to the batch operator, and a drained run's final histogram
    equals the batch aggregate exactly, so the emitted PSI is replayable
    by a batch SQL twin (the oracle).

    State is ``nbins`` longs per key; the usual ``idle_timeout_ms`` TTL
    applies. Emits ``(key, n_events, psi)`` in update mode.
    """
    import numpy as np

    ref = np.asarray([float(p) for p in ref_probs], dtype=np.float64)
    nbins = len(ref)
    flo, fw, feps = float(lo), float(width), float(eps)

    def fold(carry, pdf):
        counts, n = carry
        x = pdf[value].to_numpy(dtype=np.float64)
        b = np.clip(np.floor((x - flo) / fw).astype(np.int64), 0, nbins - 1)
        counts = np.asarray(counts, dtype=np.int64) + np.bincount(b, minlength=nbins)
        return [int(c) for c in counts], n + len(x)

    def emit(carry):
        counts, n = carry
        if n > 0:
            p_obs = np.maximum(np.asarray(counts, dtype=np.int64) / float(n), feps)
            p_ref = np.maximum(ref, feps)
            psi = float(np.sum((p_obs - p_ref) * np.log(p_obs / p_ref)))
        else:
            psi = 0.0
        return n, psi

    return _fold_by_key(
        stream,
        key,
        state=[("counts", ArrayType(LongType())), ("n", LongType())],
        init=([0] * nbins, 0),
        fold=fold,
        emit=emit,
        result=[("n_events", LongType()), ("psi", DoubleType())],
        idle_timeout_ms=idle_timeout_ms,
    )


def stateful_kmv_distinct(
    stream: DataFrame,
    key: str,
    hash_col: str,
    k: int = 64,
    idle_timeout_ms: Optional[int] = None,
) -> DataFrame:
    """Streaming K-minimum-values distinct-count sketch via
    ``applyInPandasWithState`` — the online twin of the batch
    [[kmv_distinct]]: each key's state is the ``k`` smallest DISTINCT
    md5-uniform hashes seen so far (pre-compute ``hash_col`` with
    ``sim.rand.uniform(..., hash_fn="md5")`` in the stream projection,
    so the JVM does the hashing and the stateful kernel only merges),
    and every micro-batch emits ``n̂ = (k−1)/h_k`` (exact ``n_seen``
    below ``k``). Min-k of a set is COMMUTATIVE and duplicate-blind, so
    unlike the sequential stateful ops the result is independent of
    micro-batch boundaries and arrival order — the drained value equals
    the batch sketch bit-for-bit under ANY batching, which is what
    makes its oracle unconditional.

    State is ≤ k doubles per key; the usual ``idle_timeout_ms`` TTL
    applies. Emits ``(key, n_events, n_seen, kmv_estimate)`` in update
    mode.
    """
    import numpy as np

    kk = int(k)

    def fold(carry, pdf):
        ks, n_events = carry
        h = pdf[hash_col].to_numpy(dtype=np.float64)
        ks = np.unique(np.concatenate([np.asarray(ks, dtype=np.float64), h]))[:kk]
        return [float(x) for x in ks], n_events + len(h)

    def emit(carry):
        ks, n_events = carry
        n_seen = len(ks)
        est = float(n_seen) if n_seen < kk else (kk - 1.0) / float(ks[-1])
        return n_events, n_seen, est

    return _fold_by_key(
        stream,
        key,
        state=[("ks", ArrayType(DoubleType())), ("n_events", LongType())],
        init=([], 0),
        fold=fold,
        emit=emit,
        result=[
            ("n_events", LongType()),
            ("n_seen", LongType()),
            ("kmv_estimate", DoubleType()),
        ],
        idle_timeout_ms=idle_timeout_ms,
    )
