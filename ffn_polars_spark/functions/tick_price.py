"""Tick price & volatility operators — #35-38 of SURVEY.md §2.8.

Parity targets: /root/reference/ffn_polars/expr/tick/price.py and
volatility.py. ``calc_realized_volatility`` is the canonical
sequence-dependent aggregate: the log-return lag restarts within each group,
so the grouped form windows first (partitioned by the group keys, ordered by
the tick timestamp) and aggregates second — Catalyst plans both over one
exchange.
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ffn_polars_spark.core import ColumnOrName, Over, first_by, last_by, to_col
from ffn_polars_spark.registry import register
from ffn_polars_spark.utils import auto_alias, guard_input


@register(namespace="tick", context="series")
@auto_alias("micro_returns")
@guard_input("self", expected_dtype="double")
def calc_micro_returns(self: ColumnOrName, *, over: Over) -> Column:
    """Tick-level log returns: ``log(p_t) - log(p_{t-1})``. Reference:
    price.py:8-19."""
    c = F.log(to_col(self))
    w = over.w_ordered("calc_micro_returns")
    return c - F.lag(c, 1).over(w)


@register(namespace="tick", context="scalar")
@auto_alias("price_volatility_ratio")
@guard_input("self", expected_dtype="double")
def calc_price_volatility_ratio(self: ColumnOrName) -> Column:
    """Coefficient of variation: ``stddev_samp(p) / mean(p)``. Reference:
    price.py:22-33. NULL on a zero mean price (the CV is undefined, and
    the unguarded division threw an ANSI DIVIDE_BY_ZERO — r13 audit;
    NULL matches the DuckDB oracle's zero-div convention)."""
    c = to_col(self)
    mu = F.avg(c)
    return F.when(mu != 0.0, F.stddev_samp(c) / mu)


@register(namespace="tick", context="scalar")
@auto_alias("price_impact")
@guard_input("self", expected_dtype="double")
@guard_input("volume", expected_dtype="double")
def calc_price_impact(self: ColumnOrName, volume: ColumnOrName, ts: ColumnOrName) -> Column:
    """Price impact: ``(last(p) - first(p)) / sum(volume)``.

    NULL on zero total volume (undefined impact; the bare division throws
    an ANSI DIVIDE_BY_ZERO — r13 audit).
    ``ts`` makes first/last explicit (order-free struct min/max). Reference:
    price.py:36-55.
    """
    tot = F.sum(volume).cast("double")
    return F.when(tot != 0.0, (last_by(self, ts) - first_by(self, ts)) / tot)


def realized_volatility_agg(log_returns: ColumnOrName) -> Column:
    """Aggregate half of #38: ``sqrt(sum(r^2))`` over precomputed log returns."""
    return F.sqrt(F.sum(F.pow(to_col(log_returns), F.lit(2))))


@register(namespace="tick", context="dataframe")
def calc_realized_volatility(
    df: DataFrame,
    price: str,
    *,
    order_by: ColumnOrName,
    by: Optional[list] = None,
    seq_parallelism: str = "auto",
    rows_hint: Optional[int] = None,
) -> DataFrame:
    """Realized volatility (non-annualized): ``sqrt(Σ (log p_t − log p_{t−1})²)``
    per group, with the lag restarting at group boundaries (the contract
    pinned by reference tests/expr/test_tick.py:202-222). Reference:
    volatility.py:7-28.

    ``seq_parallelism`` governs the lag's physical plan — the per-key
    window caps parallelism at the KEY COUNT, which is the scale wall for
    low-cardinality tapes (a 100M-row tape with 5 tickers sorts five
    20M-row partitions on five cores; measured 9.7x at the sf100 decade):

    * ``"auto"`` (default): scans whose footer row count (no jobs) divided
      by a sampled key cardinality exceeds ~50M rows PER KEY — and whose
      key count sits below the cluster's slot count — route the lag
      through :func:`core.blocked_keyed_lag` (slices of the order value +
      boundary stitch; parallelism from the cluster, not the key count).
      Everything else keeps the window, and so does an order column with
      no exact integer encoding (double, string, timestamp_ntz). The gate is the MEASURED
      crossover in rows per key, not total size (sf100 tape, local[32],
      hot cache, min-of-runs): at 2M rows/key the blocked plan's fixed
      costs lose 2.7x; at 20M rows/key the window still wins 12.9 s vs
      16.4 s; at 100M rows/key the window's single-task sort takes
      57.0 s vs 8.2 s blocked — 7x, growing with every further decade.
    * ``"window"`` / ``"blocked"``: force the respective plan;
      ``"blocked"`` raises ValueError when ``order_by`` is not an integer,
      timestamp or date column.

    Both plans produce the same returns (a lag moves values, no
    arithmetic); only the Σr² association order differs, within the same
    tolerance class as any partial aggregation.
    """
    by = list(by or [])
    out = f"{price}_realized_volatility"
    use_blocked = False
    if by and isinstance(order_by, str):
        from ffn_polars_spark.operators._scanmeta import use_blocked_sequence_plan

        use_blocked = use_blocked_sequence_plan(
            df, by, order_by, seq_parallelism, rows_hint=rows_hint
        )
    if use_blocked:
        from ffn_polars_spark.core import blocked_keyed_lag

        base = df.select(
            *by, order_by, F.log(to_col(price)).alias("__lp")
        )
        lagged = blocked_keyed_lag(base, by, [order_by], {"__lp_prev": "__lp"})
        pre = lagged.withColumn("__r", F.col("__lp") - F.col("__lp_prev"))
        return pre.groupBy(*by).agg(realized_volatility_agg("__r").alias(out))
    over = Over(order_by=order_by, partition_by=by or None)
    pre = df.withColumn("__r", calc_micro_returns(price, over=over))
    g = pre.groupBy(*by) if by else pre.groupBy()
    return g.agg(realized_volatility_agg("__r").alias(out))


calc_realized_volatility._alias_suffix = "realized_volatility"


@register(namespace="tick", kind="df", context="dataframe", alias="autocorr")
def autocorr(
    df: DataFrame,
    value_col: str,
    by: Optional[Union[str, list]] = None,
    order_by: Union[str, list] = "ts_ns",
    max_lag: int = 3,
    seq_parallelism: str = "auto",
    rows_hint: Optional[int] = None,
) -> DataFrame:
    """Serial autocorrelation of a per-key series at lags ``1..max_lag``:
    ``corr(x_t, x_{t-k})`` — the return-predictability / microstructure-
    noise diagnostic (bid-ask bounce shows up as negative lag-1
    autocorrelation in trade returns).

    One ordered window per key produces all the lagged columns in a
    single pass (one exchange; lags share the sort), then one aggregate
    per key emits a row per lag. Correlation uses guarded population
    moments — NULL on zero variance instead of an ANSI divide-by-zero,
    same as corr_matrix.

    ``seq_parallelism`` (same policy as ``calc_realized_volatility`` —
    see ``_scanmeta.use_blocked_sequence_plan``): past ~50M rows per
    sampled key, the per-key window's key-count parallelism floor routes
    the lags through a floor-free per-key global row index instead (the
    running count ``core.blocked_keyed_cumsum`` of ``F.lit(1)``; the
    first order column must be an integer, timestamp or date, as in
    ``calc_realized_volatility``), after which ALL the lags come from ONE
    self-equi-join on the high-cardinality ``(keys, index)`` composite
    (the lag side explodes its index forward by 1..max_lag), keeping
    full cluster parallelism at any key count. Same output frame
    (groups × lags completed; ``n`` 0 / ``acf`` NULL where a lag has no
    pairs), moments within partial-aggregation association tolerance.

    Measured (sf100 tape, local[32], min-of-runs): at 20M rows/key the
    window wins 19.1 s vs 57.6 s — the join materializes ~4x the tape
    through a shuffle, the generality tax of any-k — but at 100M
    rows/key the window's single-task sort loses 79.1 s vs 44.2 s
    blocked, and the gap grows every decade. The shared 50M-rows/key
    gate sits at the measured crossover for both operators.

    Returns ``(*by, lag, n, acf)``.
    """
    gcols = [by] if isinstance(by, str) else list(by or [])
    ocols = [order_by] if isinstance(order_by, str) else list(order_by)
    x = F.col(value_col)

    from ffn_polars_spark.operators._scanmeta import use_blocked_sequence_plan

    if gcols and use_blocked_sequence_plan(
        df, gcols, ocols[0], seq_parallelism, rows_hint=rows_hint
    ):
        from ffn_polars_spark.core import blocked_keyed_cumsum

        base = df.select(*gcols, *ocols, x.alias("__x"))
        idx = blocked_keyed_cumsum(base, gcols, ocols, {"__g": F.lit(1)})
        lags = F.array(*[F.lit(k) for k in range(1, max_lag + 1)])
        # each row offers itself as the lag-k partner of the row k ahead
        partners = idx.select(
            *gcols,
            F.col("__x").alias("__xl"),
            F.explode(lags).alias("lag"),
            F.col("__g").alias("__g0"),
        ).withColumn("__g", F.col("__g0") + F.col("lag"))
        # a NULL partner VALUE is excluded exactly as the window form's
        # NULL lag is (count(when(lk.isNotNull(), 1)) semantics)
        pairs = idx.join(partners.drop("__g0"), [*gcols, "__g"]).where(
            F.col("__xl").isNotNull()
        )
        den = F.stddev_pop(F.col("__x")) * F.stddev_pop(F.col("__xl"))
        stats = pairs.groupBy(*gcols, "lag").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.when(den != 0, F.covar_pop(F.col("__x"), F.col("__xl")) / den),
                6,
            ).alias("acf"),
        )
        # complete groups x lags: a lag with zero pairs (group shorter than
        # the lag) still emits its row, as the window formulation does
        grid = base.select(*gcols).distinct().select(
            *gcols, F.explode(lags).alias("lag")
        )
        return grid.join(stats, [*gcols, "lag"], "left").select(
            *gcols,
            "lag",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            "acf",
        )

    w = Window.partitionBy(*gcols).orderBy(*[F.col(c) for c in ocols])
    lagged = df.select(
        *gcols,
        x.alias("__x"),
        *[F.lag(x, k).over(w).alias(f"__l{k}") for k in range(1, max_lag + 1)],
    )

    def acf(k: int):
        lk = F.col(f"__l{k}")
        n = F.count(F.when(lk.isNotNull(), F.lit(1)))
        den = F.stddev_pop(F.when(lk.isNotNull(), F.col("__x"))) * F.stddev_pop(lk)
        cov = F.covar_pop(F.when(lk.isNotNull(), F.col("__x")), lk)
        return F.struct(
            F.lit(k).alias("lag"),
            n.alias("n"),
            F.round(F.when(den != 0, cov / den), 6).alias("acf"),
        )

    agg = (lagged.groupBy(*gcols) if gcols else lagged.groupBy()).agg(
        F.array(*[acf(k) for k in range(1, max_lag + 1)]).alias("__a")
    )
    return agg.select(*gcols, F.explode("__a").alias("r")).select(
        *gcols, "r.lag", "r.n", "r.acf"
    )


@register(namespace="tick", kind="df", context="dataframe", alias="amihud")
def amihud_illiquidity(
    df: DataFrame,
    price_col: str,
    volume_col: str,
    by: Optional[Union[str, list]] = None,
    order_by: Union[str, list] = "ts_ns",
    scale: float = 1e6,
) -> DataFrame:
    """Amihud (2002) illiquidity at tick frequency: the mean over events of
    ``|r_t| / (p_t * v_t)`` per key, scaled by ``scale`` (the conventional
    x1e6) — price move per unit of traded value, the workhorse
    price-impact / illiquidity proxy. Complements [[calc_price_impact]]
    (one end-to-end move over total volume) with a per-event average that
    is robust to intra-window reversals.

    ``r_t`` is the simple return ``p_t / p_{t-1} - 1`` with the lag
    restarting at key boundaries; events with zero traded value or no
    predecessor contribute nothing (NULL-skipped by ``avg``).

    Plan shape: one ordered window per key for the lag, one hash aggregate
    — a single exchange, linear in events, no join.
    """
    keys = [by] if isinstance(by, str) else list(by or [])
    order = [order_by] if isinstance(order_by, (str, Column)) else list(order_by)
    w = Window.partitionBy(*keys).orderBy(*order) if keys else Window.orderBy(*order)
    p = F.col(price_col).cast("double")
    r = p / F.lag(p, 1).over(w) - F.lit(1.0)
    dollar = p * F.col(volume_col).cast("double")
    illiq = F.when(dollar > 0, F.abs(r) / dollar)
    pre = df.withColumn("__illiq", illiq)
    g = pre.groupBy(*keys) if keys else pre.groupBy()
    return g.agg(
        (F.avg("__illiq") * F.lit(float(scale))).alias("amihud"),
        F.count("__illiq").alias("n_obs"),
    )


@register(namespace="tick", kind="df", context="dataframe", alias="roll_spread")
def roll_spread(
    df: DataFrame,
    price_col: str,
    by: Optional[Union[str, list]] = None,
    order_by: Union[str, list] = "ts_ns",
) -> DataFrame:
    """Roll (1984) implied effective spread from trade prices alone:
    ``2 * sqrt(-cov(dp_t, dp_{t-1}))`` per key, where ``dp`` is the price
    change — bid-ask bounce makes consecutive changes negatively serially
    correlated, and the covariance magnitude recovers the half-spread
    squared. NULL when the serial covariance is non-negative (no bounce
    signal; the literature's convention rather than clamping to 0, so the
    caller can tell "no signal" from "zero spread").

    Plan shape: one ordered window per key builds ``dp`` and its lag in a
    single pass, then ``covar_samp`` aggregates map-side — one exchange,
    no join. Returns ``(keys, roll_spread, serial_cov, n_obs)``.
    """
    keys = [by] if isinstance(by, str) else list(by or [])
    order = [order_by] if isinstance(order_by, (str, Column)) else list(order_by)
    w = Window.partitionBy(*keys).orderBy(*order) if keys else Window.orderBy(*order)
    p = F.col(price_col).cast("double")
    dp = p - F.lag(p, 1).over(w)
    pre = df.withColumn("__dp", dp).withColumn("__dpl", F.lag(dp, 1).over(w))
    g = pre.groupBy(*keys) if keys else pre.groupBy()
    cov = F.covar_samp("__dp", "__dpl")
    return g.agg(
        F.when(cov < 0, F.lit(2.0) * F.sqrt(-cov)).alias("roll_spread"),
        cov.alias("serial_cov"),
        F.count(F.when(F.col("__dpl").isNotNull(), 1)).alias("n_obs"),
    )


@register(namespace="tick", kind="df", context="dataframe", alias="kyle_lambda")
def kyle_lambda(
    df: DataFrame,
    price_col: str,
    volume_col: str,
    by: Optional[Union[str, list]] = None,
    order_by: Union[str, list] = "ts_ns",
) -> DataFrame:
    """Kyle (1985) lambda — the price-impact regression slope: regress the
    price change on signed volume (tick-rule direction x volume) per key;
    ``lambda = cov(dp, sv) / var(sv)`` is how much price moves per unit of
    net order flow, the standard market-depth inverse. Complements
    [[amihud_illiquidity]] (magnitude ratio) with the directional
    regression coefficient.

    Direction comes from [[tick_rule]] (+1 uptick / -1 downtick / 0 flat
    or first), so the whole estimator is computable from a trade tape
    alone. One ordered window per key, then map-side ``covar_samp`` /
    ``var_samp`` — one exchange, no join. NULL when signed volume has no
    variance. Returns ``(keys, kyle_lambda, r2, n_obs)`` where ``r2`` is
    the regression's squared correlation (NULL when either side is
    degenerate).
    """
    from ffn_polars_spark.functions.tick_direction import tick_rule

    keys = [by] if isinstance(by, str) else list(by or [])
    order = [order_by] if isinstance(order_by, (str, Column)) else list(order_by)
    over = Over(order_by=order, partition_by=keys or None)
    w = Window.partitionBy(*keys).orderBy(*order) if keys else Window.orderBy(*order)
    p = F.col(price_col).cast("double")
    dp = p - F.lag(p, 1).over(w)
    sv = tick_rule(price_col, over=over).cast("double") * F.col(
        volume_col
    ).cast("double")
    pre = df.withColumn("__dp", dp).withColumn("__sv", sv)
    g = pre.groupBy(*keys) if keys else pre.groupBy()
    cov = F.covar_samp("__dp", "__sv")
    varv = F.var_samp("__sv")
    # r2 from guarded moments, NOT F.corr: under ANSI mode corr's internal
    # n·Σab−ΣaΣb / √(...) division throws DIVIDE_BY_ZERO outright on a
    # degenerate (constant dp or sv) group — the guard must sit INSIDE the
    # expression, and stddev_samp returns 0.0 rather than dividing
    # (hypothesis-found, r13). Pairwise-deletion parity with corr: restrict
    # both stddevs to rows where the OTHER side is non-null (dp is NULL on
    # each key's first row).
    sd_dp = F.stddev_samp(F.when(F.col("__sv").isNotNull(), F.col("__dp")))
    sd_sv = F.stddev_samp(F.when(F.col("__dp").isNotNull(), F.col("__sv")))
    den = sd_dp * sd_sv
    corr = F.when(den > 0, cov / den)
    return g.agg(
        F.when(varv > 0, cov / varv).alias("kyle_lambda"),
        (corr * corr).alias("r2"),
        F.count(F.when(F.col("__dp").isNotNull(), 1)).alias("n_obs"),
    )


@register(namespace="tick", kind="df", context="dataframe", alias="lead_lag_corr")
def lead_lag_corr(
    df: DataFrame,
    a_col: str,
    b_col: str,
    order_by: Union[str, list],
    by: Optional[Union[str, list]] = None,
    max_lag: int = 3,
) -> DataFrame:
    """Lead-lag cross-correlation of two ALIGNED series:
    ``ccf(k) = corr(a_t, b_{t-k})`` for ``k in -max_lag..max_lag`` —
    positive ``k`` means ``b`` leads ``a`` (price discovery happens in
    ``b`` first), ``k = 0`` is the contemporaneous correlation, and an
    asymmetric profile is the classic lead-lag signature. The cross-series
    companion to [[autocorr]] — same one-sorted-pass shape: every lag and
    lead is a ``lag()`` column over ONE window (negative offsets are
    leads), then a single aggregate per key emits a row per ``k``.

    Alignment (same observation grid for ``a`` and ``b`` — e.g. the same
    time bars) is the caller's contract; rows where either side is null
    at a given offset are excluded pairwise. Correlation uses guarded
    population moments — NULL on zero variance. Returns
    ``(*by, lag, n, ccf)``.
    """
    gcols = [by] if isinstance(by, str) else list(by or [])
    ocols = [order_by] if isinstance(order_by, str) else list(order_by)
    w = Window.partitionBy(*gcols).orderBy(*[F.col(c) for c in ocols])
    a = F.col(a_col).cast("double")
    b = F.col(b_col).cast("double")
    ks = list(range(-max_lag, max_lag + 1))
    staged = df.select(
        *gcols,
        a.alias("__a"),
        *[F.lag(b, k).over(w).alias(f"__b{i}") for i, k in enumerate(ks)],
    )

    def ccf(i: int, k: int):
        bk = F.col(f"__b{i}")
        both = F.when(bk.isNotNull() & F.col("__a").isNotNull(), F.lit(1))
        av = F.when(bk.isNotNull(), F.col("__a"))
        bv = F.when(F.col("__a").isNotNull(), bk)
        n = F.count(both)
        den = F.stddev_pop(av) * F.stddev_pop(bv)
        cov = F.covar_pop(av, bv)
        return F.struct(
            F.lit(k).alias("lag"),
            n.alias("n"),
            F.when(den != 0, cov / den).alias("ccf"),
        )

    agg = (staged.groupBy(*gcols) if gcols else staged.groupBy()).agg(
        F.array(*[ccf(i, k) for i, k in enumerate(ks)]).alias("__c")
    )
    return agg.select(*gcols, F.explode("__c").alias("r")).select(
        *gcols, "r.lag", "r.n", "r.ccf"
    )


@register(namespace="tick", kind="df", context="dataframe", alias="half_life")
def half_life(
    df: DataFrame,
    value_col: str,
    order_by: Union[str, list] = "ts_ns",
    by: Optional[Union[str, list]] = None,
) -> DataFrame:
    """Mean-reversion half-life via the AR(1)/discrete-OU fit:
    regress ``Δx_t`` on ``x_{t-1}`` (``β = cov(Δx, x_{t-1}) /
    var(x_{t-1})``), giving ``x_t ≈ (1+β)·x_{t-1}`` with reversion speed
    ``ρ = 1+β``; the half-life is ``−ln 2 / ln ρ`` periods when
    ``0 < ρ < 1``. NULL outside that band — ``ρ ≥ 1`` means no reversion
    to decay (random walk / trending), the regime [[hurst_exponent]] and
    [[variance_ratio]] flag from the variance side. The pairs-trading /
    spread-sizing companion to [[autocorr]].

    One lag window per key (one exchange), one aggregate of closed-form
    population moments — no iteration. Returns
    ``(*by, beta, rho, half_life, n)``.
    """
    gcols = [by] if isinstance(by, str) else list(by or [])
    ocols = [order_by] if isinstance(order_by, str) else list(order_by)
    w = Window.partitionBy(*gcols).orderBy(*[F.col(c) for c in ocols])
    x = F.col(value_col).cast("double")
    staged = df.select(
        *gcols, x.alias("__x"), F.lag(x).over(w).alias("__xp")
    ).where(F.col("__xp").isNotNull())
    d = F.col("__x") - F.col("__xp")
    den = F.var_pop("__xp")
    beta = F.when(den > 0, F.covar_pop(d, F.col("__xp")) / den)
    g = staged.groupBy(*gcols) if gcols else staged.groupBy()
    agg = g.agg(beta.alias("beta"), F.count(F.lit(1)).alias("n"))
    rho = F.lit(1.0) + F.col("beta")
    return agg.select(
        *gcols,
        "beta",
        rho.alias("rho"),
        F.when(
            (rho > 0) & (rho < 1), -F.log(F.lit(2.0)) / F.log(rho)
        ).alias("half_life"),
        "n",
    )


# Relative size below which pairs_spread treats the spread's sd as rounding
# noise. Each spread is off by a few ulps (~1e-16) of the inputs' scale, and
# the fitted β adds summation error that grows with the row count (about
# √n ulps, n at worst); at 1M rows even the worst case stays below the bound.
PAIRS_SD_NOISE = 1e-9


@register(namespace="tick", kind="df", context="dataframe", alias="pairs_spread")
def pairs_spread(
    df: DataFrame,
    a_col: str,
    b_col: str,
    order_by: Union[str, list],
    by: Optional[Union[str, list]] = None,
) -> DataFrame:
    """Pairs-trading spread: per key, OLS-hedge ``a`` against ``b``
    (``β = cov_pop(a,b)/var_pop(b)``, ``α = mean(a) − β·mean(b)``), emit
    the residual spread ``a − α − β·b`` and its z-score against the
    spread's own in-sample standard deviation — the entry/exit signal of
    the classic stat-arb loop. Feed the spread to [[half_life]] to size
    holding periods; β here is the full-sample twin of the windowed
    [[rolling_beta]].

    Two closed-form moment aggregates (one per pass) broadcast-join back
    onto the rows — the series itself never reshuffles. Returns the input
    ordering columns plus ``(spread, z)``.

    ``z`` is NULL when the spread's sample sd is rounding noise: at most
    ``PAIRS_SD_NOISE`` times the inputs' scale ``max|a| + |β|·max|b|``.
    Exactly collinear legs leave a spread of a few ulps per row, and a
    z-score of that noise is noise too.
    """
    gcols = [by] if isinstance(by, str) else list(by or [])
    ocols = [order_by] if isinstance(order_by, str) else list(order_by)
    a = F.col(a_col).cast("double")
    b = F.col(b_col).cast("double")
    g1 = df.groupBy(*gcols) if gcols else df.groupBy()
    fit = g1.agg(
        F.when(F.var_pop(b) > 0, F.covar_pop(a, b) / F.var_pop(b)).alias(
            "__beta"
        ),
        F.avg(a).alias("__ma"),
        F.avg(b).alias("__mb"),
        F.max(F.abs(a)).alias("__amax"),
        F.max(F.abs(b)).alias("__bmax"),
    )
    j1 = (
        df.join(F.broadcast(fit), gcols)
        if gcols
        else df.crossJoin(F.broadcast(fit))
    )
    spread = a - (
        F.col("__ma") - F.col("__beta") * F.col("__mb")
    ) - F.col("__beta") * b
    scale = F.col("__amax") + F.abs(F.col("__beta")) * F.col("__bmax")
    withs = j1.select(
        *gcols, *ocols, spread.alias("spread"), scale.alias("__scale")
    )
    g2 = withs.groupBy(*gcols) if gcols else withs.groupBy()
    sd = g2.agg(
        F.avg("spread").alias("__ms"),
        F.stddev_samp("spread").alias("__sd"),
        (F.max("__scale") * F.lit(PAIRS_SD_NOISE)).alias("__tol"),
    )
    j2 = (
        withs.join(F.broadcast(sd), gcols)
        if gcols
        else withs.crossJoin(F.broadcast(sd))
    )
    return j2.select(
        *gcols,
        *ocols,
        "spread",
        F.when(
            F.col("__sd") > F.col("__tol"),
            (F.col("spread") - F.col("__ms")) / F.col("__sd"),
        ).alias("z"),
    )


@register(namespace="tick", kind="df", context="dataframe", alias="bipower_variation")
def bipower_variation(
    df: DataFrame,
    price: str,
    *,
    order_by: ColumnOrName,
    by: Optional[list] = None,
) -> DataFrame:
    """Jump-robust realized variance (Barndorff-Nielsen & Shephard 2004):
    bipower variation ``BV = (π/2) Σ |r_t||r_{t−1}|`` alongside the plain
    realized variance ``RV = Σ r²`` and the relative jump contribution
    ``max(0, RV − BV) / RV`` — BV converges to the diffusive (continuous)
    variance even through jumps, so the gap measures how much of
    [[calc_realized_volatility]]'s number is jumps rather than diffusion.

    One ordered window pass (the log return and its lag share the sort) +
    one hash aggregate on the same keys — a single exchange. NULL
    jump_share when RV is 0. Returns ``(keys, rv, bv, jump_share, n)``.
    """
    import math

    by = list(by or [])
    over = Over(order_by=order_by, partition_by=by or None)
    w = over.w_ordered("bipower_variation")
    r = calc_micro_returns(price, over=over)
    pre = df.withColumn("__r", r).withColumn(
        "__rl", F.lag(F.col("__r"), 1).over(w)
    )
    g = pre.groupBy(*by) if by else pre.groupBy()
    agg = g.agg(
        F.sum(F.col("__r") * F.col("__r")).alias("rv"),
        (
            F.lit(math.pi / 2.0)
            * F.sum(F.abs(F.col("__r")) * F.abs(F.col("__rl")))
        ).alias("bv"),
        F.count(F.col("__r")).alias("n"),
    )
    jump = F.when(
        F.col("rv") > 0,
        F.greatest(F.col("rv") - F.col("bv"), F.lit(0.0)) / F.col("rv"),
    )
    return agg.select(*by, "rv", "bv", jump.alias("jump_share"), "n")


@register(namespace="tick", kind="df", context="dataframe", alias="rv_signature")
def rv_signature(
    df: DataFrame,
    price: str,
    ts: str,
    by: Optional[list] = None,
    intervals: Optional[list] = None,
) -> DataFrame:
    """Volatility signature plot data: realized variance recomputed from
    last-tick prices sampled on progressively coarser grids — the standard
    microstructure-noise diagnostic (RV inflates at fine sampling when
    bid-ask bounce dominates; the plateau marks the noise-free scale).

    One bucketed ``max_by`` aggregate + one ordered window + one final
    aggregate PER interval, unioned (each interval's pipeline shrinks the
    data to bucket cardinality at its first step, so the union of three
    pipelines still reads buckets, not ticks, past stage one).
    Returns ``(keys, interval_ns, rv, n_buckets)``.
    """
    by = list(by or [])
    intervals = [int(i) for i in (intervals or [60_000_000_000,
                                                300_000_000_000,
                                                600_000_000_000])]
    outs = []
    for iv in intervals:
        bucket = F.floor(F.col(ts) / F.lit(iv)).cast("long")
        closes = (
            df.withColumn("__b", bucket)
            .groupBy(*(by + ["__b"]))
            .agg(F.max_by(F.col(price), F.col(ts)).alias("__close"))
        )
        over = Over(order_by=["__b"], partition_by=by or None)
        r = calc_micro_returns("__close", over=over)
        pre = closes.withColumn("__r", r)
        g = pre.groupBy(*by) if by else pre.groupBy()
        outs.append(
            g.agg(
                F.sum(F.col("__r") * F.col("__r")).alias("rv"),
                F.count(F.lit(1)).alias("n_buckets"),
            ).select(*by, F.lit(iv).alias("interval_ns"), "rv", "n_buckets")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(namespace="tick", kind="df", context="dataframe", alias="twap")
def twap(
    df: DataFrame,
    price_col: str,
    ts_col: str = "ts_ns",
    by: Optional[Union[str, list]] = None,
    tiebreak: Optional[str] = None,
) -> DataFrame:
    """Time-weighted average price per group: ``Σ pᵢ·Δtᵢ / Σ Δtᵢ`` where
    ``Δtᵢ`` is the interval each price was LIVE (next tick's timestamp
    minus this one's) — the execution benchmark that, unlike
    [[calc_vwap]], cannot be gamed by trade-size bursts, and the quote
    half of a TCA pair with ``execution_slippage``. The group's last
    tick carries no forward interval and is excluded (the standard
    open-ended-tail convention, stated so every engine replays it).

    One lead window per key (one exchange, shared by both the interval
    and the weighted sum) + one aggregate; output cardinality = groups.
    Interval arithmetic is exact integer ns in doubles (< 2^53 for any
    realistic horizon); only the final division rounds. Returns
    ``(*by, twap, total_time, n_intervals)``.
    """
    gcols = [by] if isinstance(by, str) else list(by or [])
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    w = Window.partitionBy(*gcols).orderBy(*[F.col(c) for c in order])
    ts = F.col(ts_col).cast("double")
    dt = F.lead(ts).over(w) - ts
    staged = df.select(
        *gcols,
        F.col(price_col).cast("double").alias("__p"),
        dt.alias("__dt"),
    ).where(F.col("__dt").isNotNull())
    g = staged.groupBy(*gcols) if gcols else staged.groupBy()
    tot = F.sum("__dt")
    return g.agg(
        (F.sum(F.col("__p") * F.col("__dt")) / tot).alias("twap"),
        tot.alias("total_time"),
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
    )


@register(namespace="tick", kind="df", context="dataframe", alias="adf_stat")
def adf_stat(
    df: DataFrame,
    value_col: str,
    order_by: Union[str, list] = "ts_ns",
    by: Optional[Union[str, list]] = None,
) -> DataFrame:
    """Dickey–Fuller unit-root t-statistic (no-constant form): regress
    ``Δxₜ`` on ``x_{t−1}`` and report ``t = β̂/se(β̂)`` with
    ``se² = (SSR/(n−1)) / Σx_{t−1}²`` — the significance number
    [[half_life]]'s point estimate lacks (β near 0 with a huge t is a
    random walk you can trust; β very negative with |t| > ~2.9 rejects
    the unit root — critical values are the caller's lookup, the
    statistic is the engine's job). The stationarity gate for
    [[pairs_spread]] residuals.

    One lag window per key + one closed-form moment aggregate (SSR
    expands algebraically: ``Σd² − 2βΣdx + β²Σx²``). Returns
    ``(*by, beta, t_stat, n)``.
    """
    gcols = [by] if isinstance(by, str) else list(by or [])
    ocols = [order_by] if isinstance(order_by, str) else list(order_by)
    w = Window.partitionBy(*gcols).orderBy(*[F.col(c) for c in ocols])
    x = F.col(value_col).cast("double")
    staged = df.select(
        *gcols, x.alias("__x"), F.lag(x).over(w).alias("__xp")
    ).where(F.col("__xp").isNotNull())
    d = F.col("__x") - F.col("__xp")
    g = staged.groupBy(*gcols) if gcols else staged.groupBy()
    agg = g.agg(
        F.sum(d * F.col("__xp")).alias("__sdx"),
        F.sum(F.col("__xp") * F.col("__xp")).alias("__sxx"),
        F.sum(d * d).alias("__sdd"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    beta = F.when(F.col("__sxx") > 0, F.col("__sdx") / F.col("__sxx"))
    ssr = (
        F.col("__sdd")
        - F.lit(2.0) * beta * F.col("__sdx")
        + beta * beta * F.col("__sxx")
    )
    se2 = F.when(
        (F.col("n") > 1) & (F.col("__sxx") > 0),
        (ssr / (F.col("n") - 1).cast("double")) / F.col("__sxx"),
    )
    t = F.when(se2 > 0, beta / F.sqrt(se2))
    return agg.select(*gcols, beta.alias("beta"), t.alias("t_stat"), "n")


@register(namespace="tick", kind="df", context="dataframe", alias="price_clustering")
def price_clustering(
    df: DataFrame,
    price_col: str,
    by: Optional[Union[str, list]] = None,
    tick_scale: float = 100.0,
) -> DataFrame:
    """Round-number clustering of the final price digit: the
    distribution of ``floor(price·scale + 0.5) mod 10`` against the
    uniform 1/10 — human quoting and coarse tick grids pile prices on
    0s and 5s (a microstructure classic: clustering widens effective
    spreads and fingerprints the quoting population), while a clean
    continuous tape is flat. Emits one row per (keys, digit) with the
    count, observed frequency, and the chi-square contribution
    ``n·(p̂−0.1)²/0.1`` ([[benford_digits]]' convention — sum per group
    for the test statistic; dof = 9).

    Pure projection + two hash aggregates; the half-up fixed-point
    cents conversion is the engine-exact one used throughout. Returns
    ``(*by, digit, n, freq, chi2_term)``.
    """
    keys = [by] if isinstance(by, str) else list(by or [])
    cents = F.floor(
        F.col(price_col).cast("double") * F.lit(float(tick_scale)) + F.lit(0.5)
    ).cast("long")
    base = df.where(F.col(price_col).isNotNull()).select(
        *keys, (cents % 10).cast("int").alias("digit")
    )
    counts = base.groupBy(*keys, "digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    tot = F.sum("n").over(w)
    freq = F.col("n").cast("double") / tot.cast("double")
    chi2 = (
        tot.cast("double")
        * (freq - F.lit(0.1))
        * (freq - F.lit(0.1))
        / F.lit(0.1)
    )
    return counts.select(
        *keys, "digit", "n", freq.alias("freq"), chi2.alias("chi2_term")
    )
