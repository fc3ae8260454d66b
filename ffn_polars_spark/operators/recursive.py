"""Linear-recurrence series operators (EWMA family).

Not in the reference (its Polars base ships ``ewm_mean`` natively; the
library never wraps it) but table stakes for a financial/feature engine:
exponentially weighted means and volatilities.

A recurrence ``y_t = α·x_t + (1-α)·y_{t-1}`` is inherently sequential in
``t``, so the distribution unit is the KEY, not the row: each key's series
is scanned once inside an Arrow-batched ``applyInPandas`` worker while
thousands of keys process in parallel. That is the right 100 TB shape for
per-instrument/per-user series (bounded rows per key, unbounded keys) — the
same contract as the stateful streaming operators. Every such scan here and
in functions/tick_bars.imbalance_bars runs through one driver,
:func:`_scan_by_key`, which owns the grouping, the per-key sort, the output
schema and the ``applyInPandas`` call; an operator supplies only its
recurrence, an inline loop over arrays. The closed-form
``Σ α(1-α)^(t-i)x_i`` rewrite would stay JVM-side but needs ``(1-α)^(-i)``
powers that overflow past a few thousand rows; the sequential scan is exact
at any length.

Why the inner per-key loop stays interpreted (unlike imbalance_bars' r8
numpy block scan): the oracle contract pins the exact ``y_t = α·x_t +
(1-α)·y_{t-1}`` fp sequence, and no bit-exact vectorization of a damped
linear recurrence exists — blockwise renormalized forms accumulate in a
different order (ulp drift) and ``(1-α)^k`` underflows within a block;
pandas' own ``ewm(adjust=False)`` divides by ``(1-α)+α`` which is not
always exactly 1.0. imbalance_bars could vectorize because integer-valued
flows make its prefix-sum subtraction exact; EWMA has no such exactness.
The loop is a per-key constant, not a scale term (keys distribute).
"""

from __future__ import annotations

from typing import Callable, List, Optional, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ffn_polars_spark.registry import register


def _scan_by_key(
    df: DataFrame,
    by: List[str],
    order_col: str,
    fields: List[Tuple[str, T.DataType]],
    scan: Callable[[pd.DataFrame], Sequence[np.ndarray]],
) -> DataFrame:
    """The one per-key ``applyInPandas`` driver of the sequential scans.

    Each key's rows (every row in one group when ``by`` is empty) are
    mergesorted by ``order_col`` and handed to ``scan``, which returns one
    array per ``(name, type)`` in ``fields``; the result is the input
    columns plus those new columns. ``scan`` owns only the recurrence,
    written as an inline loop over arrays.
    """
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(n, t) for n, t in fields]
    )
    names = [n for n, _ in fields]

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        return pdf.assign(**dict(zip(names, scan(pdf))))

    grouped = df.groupBy(*by) if by else df.groupBy(F.lit(1).alias("__g"))
    return grouped.applyInPandas(run, schema)


@register(namespace="eod", kind="df", context="dataframe", alias="ewma")
def ewma(
    df: DataFrame,
    value_col: str,
    alpha: float,
    order_by: str,
    by: Optional[List[str]] = None,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Recursive exponentially weighted moving average per key:
    ``y_0 = x_0``, ``y_t = α·x_t + (1-α)·y_{t-1}`` (pandas
    ``ewm(alpha=α, adjust=False)`` semantics).

    The scan uses exactly one multiply-multiply-add per step in float64, so
    any engine replaying the same recurrence reproduces the series
    bit-for-bit — the correctness oracle replays it with a recursive CTE.
    Nulls are not interpolated; forward-fill upstream if the series has
    gaps.

    Returns the input columns plus ``out_col`` (default
    ``{value_col}_ewma``).
    """
    out = out_col or f"{value_col}_ewma"
    by = list(by or [])
    a = float(alpha)
    b = 1.0 - a

    def scan(pdf: pd.DataFrame):
        x = pdf[value_col].to_numpy(dtype=np.float64)
        y = np.empty_like(x)
        prev = np.nan
        for i in range(len(x)):
            prev = x[i] if i == 0 else a * x[i] + b * prev
            y[i] = prev
        return (y,)

    return _scan_by_key(df, by, order_by, [(out, T.DoubleType())], scan)


@register(namespace="eod", kind="df", context="dataframe", alias="ewm_volatility")
def ewm_volatility(
    df: DataFrame,
    value_col: str,
    alpha: float,
    order_by: str,
    by: Optional[List[str]] = None,
    out_col: Optional[str] = None,
) -> DataFrame:
    """RiskMetrics-style exponentially weighted volatility:
    ``σ²_t = (1-α)·σ²_{t-1} + α·x_t²`` over a (return) series, emitted as
    ``σ_t = sqrt(σ²_t)``; ``σ²_0 = x_0²``. Same per-key sequential-scan
    distribution shape as :func:`ewma`.
    """
    out = out_col or f"{value_col}_ewmvol"
    by = list(by or [])
    a = float(alpha)
    b = 1.0 - a

    def scan(pdf: pd.DataFrame):
        x = pdf[value_col].to_numpy(dtype=np.float64)
        y = np.empty_like(x)
        var = np.nan
        for i in range(len(x)):
            var = x[i] * x[i] if i == 0 else b * var + a * (x[i] * x[i])
            y[i] = np.sqrt(var)
        return (y,)

    return _scan_by_key(df, by, order_by, [(out, T.DoubleType())], scan)


@register(namespace="eod", kind="df", context="dataframe", alias="macd")
def macd(
    df: DataFrame,
    value_col: str,
    order_by: str,
    by: Optional[List[str]] = None,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
) -> DataFrame:
    """MACD trend indicator: ``macd = EMA_fast(x) − EMA_slow(x)``,
    ``macd_signal = EMA_signal(macd)``, ``macd_hist = macd − macd_signal``,
    every EMA the ``adjust=False`` recurrence seeded at the first value
    (so ``macd``/``signal`` start at 0, not null — the [[ewma]] seeding).

    All three recurrences run in ONE per-key Arrow-batched scan (keys are
    the distribution unit, same 100 TB shape as :func:`ewma`); each step
    is the same multiply-add sequence an engine replaying the recurrence
    performs, so the series is bit-for-bit reproducible — the oracle
    carries ``(ema_fast, ema_slow, signal)`` as recursive-CTE state.
    """
    out_cols = ("macd", "macd_signal", "macd_hist")
    by = list(by or [])
    a_f, a_s = 2.0 / (fast + 1.0), 2.0 / (slow + 1.0)
    a_g = 2.0 / (signal + 1.0)
    b_f, b_s, b_g = 1.0 - a_f, 1.0 - a_s, 1.0 - a_g

    def scan(pdf: pd.DataFrame):
        x = pdf[value_col].to_numpy(dtype=np.float64)
        m = np.empty_like(x)
        s = np.empty_like(x)
        ef = es = sig = np.nan
        for i in range(len(x)):
            if i == 0:
                ef = es = x[i]
                sig = 0.0
            else:
                ef = a_f * x[i] + b_f * ef
                es = a_s * x[i] + b_s * es
                sig = a_g * (ef - es) + b_g * sig
            m[i] = ef - es
            s[i] = sig
        return m, s, m - s

    return _scan_by_key(
        df, by, order_by, [(c, T.DoubleType()) for c in out_cols], scan
    )


@register(namespace="eod", kind="df", context="dataframe", alias="rsi")
def rsi(
    df: DataFrame,
    value_col: str,
    order_by: str,
    by: Optional[List[str]] = None,
    n: int = 14,
    out_col: Optional[str] = None,
) -> DataFrame:
    """Relative Strength Index with Wilder smoothing as the EWMA special
    case ``α = 1/n`` (``adjust=False``, seeded at the first gain/loss pair
    rather than the classic n-period simple average — same convention as
    [[ewma]], which keeps the series engine-replayable from row one):
    ``RSI = 100 − 100 / (1 + avg_gain / avg_loss)``. The first row (no
    price change yet) is null; a window with zero average loss saturates
    at 100, and a perfectly flat window is null.

    Both smoothed averages run in one per-key Arrow-batched scan; the
    oracle replays ``(avg_gain, avg_loss)`` as recursive-CTE state.
    """
    out = out_col or f"{value_col}_rsi"
    by = list(by or [])
    a = 1.0 / float(n)
    b = 1.0 - a

    def scan(pdf: pd.DataFrame):
        x = pdf[value_col].to_numpy(dtype=np.float64)
        y = np.full_like(x, np.nan)
        ag = al = np.nan
        for i in range(1, len(x)):
            d = x[i] - x[i - 1]
            g = d if d > 0.0 else 0.0
            l = -d if d < 0.0 else 0.0
            if i == 1:
                ag, al = g, l
            else:
                ag = a * g + b * ag
                al = a * l + b * al
            if al > 0.0:
                y[i] = 100.0 - 100.0 / (1.0 + ag / al)
            elif ag > 0.0:
                y[i] = 100.0
        return (y,)

    return _scan_by_key(df, by, order_by, [(out, T.DoubleType())], scan)


@register(namespace="eod", kind="df", context="dataframe", alias="cusum_changepoints")
def cusum_changepoints(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    target: float,
    threshold: float,
    drift: float = 0.0,
    by: Optional[List[str]] = None,
) -> DataFrame:
    """Two-sided CUSUM change-point detector (Page 1954): accumulate
    ``s⁺ = max(0, s⁺ + (x − target) − drift)`` and
    ``s⁻ = max(0, s⁻ − (x − target) − drift)`` per key in time order;
    a row ALARMS when either side crosses ``threshold``, and both sides
    reset to zero for the next row — the classic drift-robust mean-shift
    monitor (regime breaks in a price series, quality drift in a corpus
    metric). ``segment_id`` increments after each alarm, giving the
    change-point segmentation directly.

    Same distribution contract as [[ewma]] / [[imbalance_bars]]: the
    recurrence is inherently sequential per key, so it runs as one
    Arrow-batched scan per key with unbounded keys in parallel; nothing
    else leaves the JVM. The walk is pure IEEE adds/maxes in a fixed
    order, so an engine replaying the same recurrence (the oracle's
    recursive CTE) lands on bit-identical state.

    Returns the input keys + ``(ts, value, cusum_pos, cusum_neg, alarm,
    segment_id)``.
    """
    by = list(by or [])
    staged = df.select(
        *by,
        F.col(ts_col).alias("__ts"),
        F.col(value_col).cast("double").alias("__x"),
    )
    tgt, thr, dft = float(target), float(threshold), float(drift)

    def walk(pdf: pd.DataFrame):
        x = pdf["__x"].to_numpy(dtype=np.float64)
        n = len(x)
        sp = np.empty(n); sn = np.empty(n)
        alarm = np.empty(n, dtype=bool); seg = np.empty(n, dtype=np.int64)
        cp, cn, s = 0.0, 0.0, 1
        for i in range(n):
            e = x[i] - tgt
            cp = max(0.0, cp + e - dft)
            cn = max(0.0, cn - e - dft)
            a = cp > thr or cn > thr
            sp[i], sn[i], alarm[i], seg[i] = cp, cn, a, s
            if a:
                cp, cn = 0.0, 0.0
                s += 1
        return sp, sn, alarm, seg

    fields = [
        ("__sp", T.DoubleType()),
        ("__sn", T.DoubleType()),
        ("__alarm", T.BooleanType()),
        ("__seg", T.LongType()),
    ]
    assigned = _scan_by_key(staged, by, "__ts", fields, walk)
    return assigned.select(
        *by,
        F.col("__ts").alias(ts_col),
        F.col("__x").alias(value_col),
        F.col("__sp").alias("cusum_pos"),
        F.col("__sn").alias("cusum_neg"),
        F.col("__alarm").alias("alarm"),
        F.col("__seg").alias("segment_id"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="debounce")
def debounce(
    df: DataFrame,
    ts_col: str,
    cooldown: int,
    by: Optional[List[str]] = None,
) -> DataFrame:
    """Cooldown deduplication (debounce): keep an event only if at least
    ``cooldown`` time units have passed since the LAST KEPT event of its
    key — the retry-storm / double-fire collapse every event pipeline
    needs. Unlike a fixed-grid dedup (one per bucket), the cooldown
    anchors to the kept event, so the decision is inherently sequential:
    whether row i survives depends on which earlier rows survived — the
    same reset-recurrence class as [[imbalance_bars]] and
    [[cusum_changepoints]], and the same distribution contract (per-key
    Arrow scan, unbounded keys in parallel; pure integer comparisons, so
    any engine replaying the walk — the oracle's recursive CTE — lands
    on identical keeps).

    Returns the input rows + ``kept`` (boolean).
    """
    by = list(by or [])
    staged = df.select(*by, F.col(ts_col).alias("__ts"))
    cd = int(cooldown)

    def walk(pdf: pd.DataFrame):
        ts = pdf["__ts"].to_numpy()
        kept = np.empty(len(ts), dtype=bool)
        last = None
        for i, t in enumerate(ts):
            if last is None or t - last >= cd:
                kept[i] = True
                last = t
            else:
                kept[i] = False
        return (kept,)

    assigned = _scan_by_key(staged, by, "__ts", [("__kept", T.BooleanType())], walk)
    return assigned.select(
        *by, F.col("__ts").alias(ts_col), F.col("__kept").alias("kept")
    )
