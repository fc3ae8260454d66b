"""Correctness-gate query catalog.

One entry per implemented operator (SURVEY.md §2 + the LLM-pipeline
extensions): ``QUERY_FNS[name](spark, sf_dir) -> DataFrame`` runs the engine,
``ORACLE_SQL[name]`` is the independent ANSI-SQL formulation DuckDB executes
over the same parquet tables. The driver hash-compares the two at sf=0.01.

Determinism rules that make cross-engine value-hashing exact:

* All rounding is the explicit ``floor(x * 1e6 + 0.5) / 1e6`` formula in BOTH
  engines — identical IEEE ops on identical doubles, immune to the engines'
  differing ROUND implementations.
* Money sums go through DECIMAL (exact associative addition) and are cast
  back to DOUBLE; plain double sums are only used at magnitudes where the
  6-decimal rounding absorbs association-order noise.
* Every window is ordered by a unique key (event timestamps are distinct;
  ties elsewhere are broken explicitly).
* first/last-style aggregates use order-free arg-max/struct forms, never
  Spark's nondeterministic F.first/F.last in agg context.
"""

from __future__ import annotations

import math
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

import ffn_polars_spark as ffn
from ffn_polars_spark import Over
from ffn_polars_spark.pins import pin, release_pins
from ffn_polars_spark.sources import configure, read_table, ts_ns_col

QUERY_FNS: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: Dict[str, str] = {}


def query(name: str, sql: str = None):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            configure(spark)
            return fn(spark, sf_dir)

        QUERY_FNS[name] = wrapped
        if sql is not None:
            ORACLE_SQL[name] = sql
        return wrapped

    return deco


def r6(c) -> "F.Column":
    """floor(x*1e6 + 0.5)/1e6 — the cross-engine-exact rounding (see module
    docstring)."""
    return F.floor(ffn.to_col(c) * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def R(x: str) -> str:
    """SQL twin of :func:`r6`."""
    return f"floor(({x}) * 1000000.0 + 0.5) / 1000000.0"


# ---------------------------------------------------------------------------
# Shared frames.
#
# ticks: the events stream re-cast as a tick tape — 5 "tickers" (event_type),
# epoch-ns LongType timestamps (globally unique in the testdata), a smoothed
# positive price, and a deterministic integer-valued volume.
#
# px: a single daily EOD price series derived from orders (price = max
# total-price per order date) — multi-year, so calendar ops (CAGR, MTD, YTD)
# have real month/year structure.
# ---------------------------------------------------------------------------

# ts_ns is µs-aligned (ns truncated to µs·1000): DuckDB reads parquet
# TIMESTAMP(NANOS) at µs precision, so both engines must see identical
# timestamps. Ordering ties are broken by event_id.
TICKS_SQL = """WITH ticks AS (
  SELECT event_id, event_type, user_id, epoch_us(ts) * 1000 AS ts_ns,
         100.0 + value / 10.0 AS price,
         100.0 + value / 20.0 AS price_b,
         CAST(event_id % 100 + 1 AS DOUBLE) AS volume
  FROM events
)"""

PX_SQL = """WITH px AS (
  SELECT o_orderdate AS d, max(o_totalprice) AS price
  FROM orders GROUP BY o_orderdate
)"""

# window shorthand used throughout the oracle SQL
W = "PARTITION BY event_type ORDER BY ts_ns, event_id"
WR = f"{W} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"


def ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        "user_id",
        ts_ns_col(ev).alias("ts_ns"),
        (F.lit(100.0) + F.col("value") / F.lit(10.0)).alias("price"),
        (F.lit(100.0) + F.col("value") / F.lit(20.0)).alias("price_b"),
        ((F.col("event_id") % 100) + 1).cast("double").alias("volume"),
    )


def px(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.max("o_totalprice").alias("price")
    )


TICK_OVER = Over(order_by=["ts_ns", "event_id"], partition_by="event_type")
PX_OVER = Over(order_by="d")


# ---------------------------------------------------------------------------
# EOD series operators (#1, #2, #6, #7, #8, #18, #20, #21) — full-row outputs.
# ---------------------------------------------------------------------------


@query(
    "to_returns",
    TICKS_SQL
    + f"""
SELECT event_type, event_id,
       {R(f"price / lag(price) OVER ({W}) - 1")} AS price_returns
FROM ticks""",
)
def q_to_returns(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.select(
        "event_type",
        "event_id",
        r6(ffn.eod.to_returns("price", over=TICK_OVER)).alias("price_returns"),
    )


@query(
    "to_log_returns",
    TICKS_SQL
    + f"""
SELECT event_type, event_id,
       {R(f"ln(price / lag(price) OVER ({W}))")} AS price_log_returns
FROM ticks""",
)
def q_to_log_returns(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.select(
        "event_type",
        "event_id",
        r6(ffn.eod.to_log_returns("price", over=TICK_OVER)).alias("price_log_returns"),
    )


@query(
    "to_excess_returns",
    TICKS_SQL
    + f"""
SELECT event_type, event_id,
       {R(f"(price / lag(price) OVER ({W}) - 1) - (power(1.05, 1.0/252.0) - 1)")} AS r_excess
FROM ticks""",
)
def q_to_excess_returns(spark, sf_dir):
    t = ticks(spark, sf_dir).withColumn(
        "r", ffn.eod.to_returns("price", over=TICK_OVER)
    )
    return t.select(
        "event_type",
        "event_id",
        r6(ffn.eod.to_excess_returns("r", rf=0.05, n=252)).alias("r_excess"),
    )


@query(
    "to_price_index",
    TICKS_SQL
    + f""", rets AS (
  SELECT event_type, event_id, ts_ns,
         price / lag(price) OVER ({W}) - 1 AS r
  FROM ticks)
SELECT event_type, event_id,
       {R(f"product(coalesce(r, 0.0) + 1) OVER ({WR}) * 100.0")} AS r_price_index
FROM rets""",
)
def q_to_price_index(spark, sf_dir):
    t = ticks(spark, sf_dir).withColumn(
        "r", ffn.eod.to_returns("price", over=TICK_OVER)
    )
    return t.select(
        "event_type",
        "event_id",
        r6(ffn.eod.to_price_index("r", start=100, over=TICK_OVER)).alias(
            "r_price_index"
        ),
    )


@query(
    "rebase",
    TICKS_SQL
    + f"""
SELECT event_type, event_id,
       {R(f"price / first_value(price) OVER ({WR}) * 100.0")} AS price_rebased
FROM ticks""",
)
def q_rebase(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.select(
        "event_type",
        "event_id",
        r6(ffn.eod.rebase("price", value=100, over=TICK_OVER)).alias("price_rebased"),
    )


@query(
    "to_drawdown_series",
    TICKS_SQL
    + f"""
SELECT event_type, event_id,
       {R(f"price / max(price) OVER ({WR}) - 1")} AS price_drawdowns
FROM ticks""",
)
def q_to_drawdown_series(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.select(
        "event_type",
        "event_id",
        r6(ffn.eod.to_drawdown_series("price", over=TICK_OVER)).alias(
            "price_drawdowns"
        ),
    )


@query(
    "deannualize",
    TICKS_SQL
    + f"""
SELECT event_type, event_id,
       {R("power(1.0 + (price - 100.0) / 100.0, 1.0/252.0) - 1.0")} AS r_deannualized
FROM ticks""",
)
def q_deannualize(spark, sf_dir):
    t = ticks(spark, sf_dir).withColumn("r", (F.col("price") - 100.0) / 100.0)
    return t.select(
        "event_type",
        "event_id",
        r6(ffn.eod.deannualize("r", n=252)).alias("r_deannualized"),
    )


@query(
    "annualize",
    TICKS_SQL
    + f"""
SELECT event_type, event_id,
       {R("power(1.0 + (price - 100.0) / 1000.0, 365.0 / volume) - 1.0")} AS r_annualized
FROM ticks""",
)
def q_annualize(spark, sf_dir):
    t = ticks(spark, sf_dir).withColumn("r", (F.col("price") - 100.0) / 1000.0)
    return t.select(
        "event_type",
        "event_id",
        r6(ffn.eod.annualize("r", "volume", one_year=365.0)).alias("r_annualized"),
    )


# ---------------------------------------------------------------------------
# EOD scalar aggregates on the multi-year px series (#3, #4, #5, #9, #16,
# #17, #19, #24) — single-row outputs.
# ---------------------------------------------------------------------------


@query(
    "calc_total_return",
    PX_SQL
    + f"""
SELECT {R("arg_max(price, d) / arg_min(price, d) - 1")} AS price_total_return
FROM px""",
)
def q_total_return(spark, sf_dir):
    p = px(spark, sf_dir)
    return p.select(r6(ffn.eod.calc_total_return("price", "d")).alias("price_total_return"))


@query(
    "calc_cagr",
    PX_SQL
    + f"""
SELECT {R(
        "power(arg_max(price, d) / arg_min(price, d), "
        "1.0 / (floor(max(epoch_us(d) / 1000000.0) - min(epoch_us(d) / 1000000.0)) / 31557600.0)) - 1"
    )} AS price_cagr
FROM px""",
)
def q_cagr(spark, sf_dir):
    p = px(spark, sf_dir)
    return p.select(r6(ffn.eod.calc_cagr("price", "d")).alias("price_cagr"))


@query(
    "year_frac",
    PX_SQL
    + f"""
SELECT {R("floor(max(epoch_us(d) / 1000000.0) - min(epoch_us(d) / 1000000.0)) / 31557600.0")} AS d_year_frac
FROM px""",
)
def q_year_frac(spark, sf_dir):
    p = px(spark, sf_dir)
    return p.select(r6(ffn.eod.year_frac("d")).alias("d_year_frac"))


@query(
    "calc_mtd",
    PX_SQL
    + f""", m AS (SELECT max(d) AS md FROM px)
SELECT {R(
        "arg_max(price, d) / arg_max(price, d) "
        "FILTER (month(d) <> month(md) OR year(d) <> year(md)) - 1"
    )} AS price_mtd
FROM px, m""",
)
def q_mtd(spark, sf_dir):
    from ffn_polars_spark.functions.eod_returns import calc_mtd

    p = px(spark, sf_dir)
    out = calc_mtd(p, "price", "d")
    return out.select(r6(F.col("price_mtd")).alias("price_mtd"))


@query(
    "calc_ytd",
    PX_SQL
    + f"""
SELECT {R(
        "arg_max(price, d) / arg_min(price, d) "
        "FILTER (year(d) = (SELECT max(year(d)) FROM px)) - 1"
    )} AS price_ytd
FROM px""",
)
def q_ytd(spark, sf_dir):
    p = px(spark, sf_dir)
    return p.select(r6(ffn.eod.calc_ytd("price", "d")).alias("price_ytd"))


@query(
    "calc_max_drawdown",
    PX_SQL
    + """, dd AS (
  SELECT price / max(price) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS x
  FROM px)
SELECT """
    + R("min(x)")
    + """ AS price_max_drawdown
FROM dd""",
)
def q_max_drawdown(spark, sf_dir):
    from ffn_polars_spark.functions.eod_risk import calc_max_drawdown

    p = px(spark, sf_dir)
    out = calc_max_drawdown(p, "price", order_by="d")
    return out.select(r6(F.col("price_max_drawdown")).alias("price_max_drawdown"))


@query(
    "ulcer_index",
    PX_SQL
    + """, dd AS (
  SELECT (price - max(price) OVER w) / max(price) OVER w * 100 AS x
  FROM px WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT """
    + R("sqrt(avg(power(x, 2)))")
    + """ AS price_ulcer_index
FROM dd""",
)
def q_ulcer_index(spark, sf_dir):
    from ffn_polars_spark.functions.eod_risk import ulcer_index

    p = px(spark, sf_dir)
    out = ulcer_index(p, "price", order_by="d")
    return out.select(r6(F.col("price_ulcer_index")).alias("price_ulcer_index"))


@query(
    "ulcer_performance_index",
    PX_SQL
    + """, pre AS (
  SELECT price / lag(price) OVER (ORDER BY d) - 1 AS r,
         (price - max(price) OVER w) / max(price) OVER w * 100 AS x
  FROM px WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT """
    + R("avg(r) / sqrt(avg(power(x, 2)))")
    + """ AS price_ulcer_performance_index
FROM pre""",
)
def q_upi(spark, sf_dir):
    from ffn_polars_spark.functions.eod_risk import ulcer_performance_index

    p = px(spark, sf_dir)
    out = ulcer_performance_index(p, "price", rf=0.0, order_by="d")
    return out.select(
        r6(F.col("price_ulcer_performance_index")).alias(
            "price_ulcer_performance_index"
        )
    )


@query(
    "calc_calmar_ratio",
    PX_SQL
    + """, dd AS (
  SELECT d, price,
         price / max(price) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS x
  FROM px)
SELECT """
    + R(
        "(power(arg_max(price, d) / arg_min(price, d), "
        "1.0 / (floor(max(epoch_us(d) / 1000000.0) - min(epoch_us(d) / 1000000.0)) / 31557600.0)) - 1) "
        "/ abs(min(x))"
    )
    + """ AS price_calmar_ratio
FROM dd""",
)
def q_calmar(spark, sf_dir):
    from ffn_polars_spark.functions.eod_ratios import calc_calmar_ratio

    p = px(spark, sf_dir)
    out = calc_calmar_ratio(p, "price", "d")
    return out.select(r6(F.col("price_calmar_ratio")).alias("price_calmar_ratio"))


# ---------------------------------------------------------------------------
# Return-ratio aggregates on per-event-type tick returns (#10, #12, #13, #14).
# ---------------------------------------------------------------------------

RETS_SQL = (
    TICKS_SQL
    + f""", rets AS (
  SELECT event_type,
         price / lag(price) OVER ({W}) - 1 AS r,
         price_b / lag(price_b) OVER ({W}) - 1 AS rb
  FROM ticks)
"""
)


def rets(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.select(
        "event_type",
        ffn.eod.to_returns("price", over=TICK_OVER).alias("r"),
        ffn.eod.to_returns("price_b", over=TICK_OVER).alias("rb"),
    )


@query(
    "calc_sharpe",
    RETS_SQL
    + f"""
SELECT event_type, {R("avg(r) / stddev_samp(r) * sqrt(252.0)")} AS r_sharpe
FROM rets GROUP BY event_type""",
)
def q_sharpe(spark, sf_dir):
    return (
        rets(spark, sf_dir)
        .groupBy("event_type")
        .agg(r6(ffn.eod.calc_sharpe("r")).alias("r_sharpe"))
    )


@query(
    "sortino_ratio",
    RETS_SQL
    + f""", ex AS (
  SELECT event_type, r - 0.02/252 AS e,
         CASE WHEN r IS NULL THEN NULL ELSE least(r - 0.02/252, 0.0) END AS dn
  FROM rets)
SELECT event_type,
       {R(
        "CASE WHEN stddev_samp(dn) IS NOT NULL AND stddev_samp(dn) <> 0.0 "
        "THEN avg(e) / stddev_samp(dn) * sqrt(252.0) END"
    )} AS r_sortino_ratio
FROM ex GROUP BY event_type""",
)
def q_sortino(spark, sf_dir):
    return (
        rets(spark, sf_dir)
        .groupBy("event_type")
        .agg(r6(ffn.eod.sortino_ratio("r", rf=0.02, n=252)).alias("r_sortino_ratio"))
    )


@query(
    "calc_risk_return_ratio",
    RETS_SQL
    + f"""
SELECT event_type, {R("avg(r) / stddev_samp(r) * sqrt(252.0)")} AS r_risk_return_ratio
FROM rets GROUP BY event_type""",
)
def q_risk_return(spark, sf_dir):
    return (
        rets(spark, sf_dir)
        .groupBy("event_type")
        .agg(r6(ffn.eod.calc_risk_return_ratio("r")).alias("r_risk_return_ratio"))
    )


@query(
    "calc_information_ratio",
    RETS_SQL
    + f"""
SELECT event_type,
       {R("coalesce(avg(r - rb) / stddev_samp(r - rb), 0.0)")} AS r_ir
FROM rets GROUP BY event_type""",
)
def q_information_ratio(spark, sf_dir):
    return (
        rets(spark, sf_dir)
        .groupBy("event_type")
        .agg(r6(ffn.eod.calc_information_ratio("r", "rb")).alias("r_ir"))
    )


# Student-t CDF in portable SQL (SURVEY §2.2 #15 option b): the same
# regularized-incomplete-beta formulation the engine's numpy fallback uses
# (eod_ratios._student_t_cdf, Numerical Recipes §6.4) — Lentz continued
# fraction as a recursive CTE, front factor via lgamma. Mirrors the numpy
# algorithm step for step (same branch choice, same FPMIN clamps, same
# EPS=3e-14 stop), so the two engines agree to ~1e-15 and r6 absorbs the
# rest. All literals are e-notation so DuckDB stays in DOUBLE (plain 1.0
# parses as DECIMAL inside recursive CTEs).
_PROB_MOM_SQL = (
    RETS_SQL.replace("WITH ticks", "WITH RECURSIVE ticks", 1)
    + f""", dd AS (
  SELECT event_type, r - rb AS dv
  FROM rets WHERE r IS NOT NULL AND rb IS NOT NULL),
ag AS (
  SELECT event_type, avg(dv) AS mu, stddev_samp(dv) AS sd, count(*) AS n
  FROM dd GROUP BY event_type),
tin AS (
  SELECT event_type AS gid, mu / sd AS t, CAST(n - 1 AS DOUBLE) AS nu
  FROM ag WHERE n >= 2 AND sd IS NOT NULL AND sd <> 0e0),
tinit AS (
  SELECT gid, CAST(t AS DOUBLE) AS t, nu,
         nu / (nu + CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) AS xb
  FROM tin),
p AS (
  SELECT gid, t, nu, xb,
         nu/2e0 AS a0, 5e-1 AS b0,
         xb < (nu/2e0 + 1e0) / (nu/2e0 + 25e-1) AS direct,
         CASE WHEN xb > 0e0 AND xb < 1e0 THEN
           exp( (nu/2e0)*ln(xb) + 5e-1*ln(1e0-xb)
                - (lgamma(nu/2e0) + lgamma(5e-1) - lgamma(nu/2e0 + 5e-1)) )
         ELSE 0e0 END AS front,
         CASE WHEN xb < (nu/2e0 + 1e0) / (nu/2e0 + 25e-1) THEN nu/2e0 ELSE 5e-1 END AS ba,
         CASE WHEN xb < (nu/2e0 + 1e0) / (nu/2e0 + 25e-1) THEN 5e-1 ELSE nu/2e0 END AS bb,
         CASE WHEN xb < (nu/2e0 + 1e0) / (nu/2e0 + 25e-1) THEN xb ELSE 1e0-xb END AS bx
  FROM tinit),
cf AS (
  SELECT gid, ba AS a, bb AS b, bx AS x, 0 AS m,
         1e0 AS c,
         1e0/(CASE WHEN abs(1e0 - (ba+bb)*bx/(ba+1e0)) < 1e-300 THEN 1e-300
                   ELSE 1e0 - (ba+bb)*bx/(ba+1e0) END) AS d,
         1e0/(CASE WHEN abs(1e0 - (ba+bb)*bx/(ba+1e0)) < 1e-300 THEN 1e-300
                   ELSE 1e0 - (ba+bb)*bx/(ba+1e0) END) AS h,
         FALSE AS done
  FROM p
  UNION ALL
  SELECT gid, a, b, x, CAST(mf AS INTEGER), c2, d2, h2, abs(delt-1e0) < 3e-14 FROM (
    SELECT gid, a, b, x, mf, c, d, h,
      (mf*(b-mf)*x)/((a-1e0+2e0*mf)*(a+2e0*mf)) AS aa1,
      1e0/(CASE WHEN abs(1e0+aa1*d) < 1e-300 THEN 1e-300 ELSE 1e0+aa1*d END) AS d1,
      (CASE WHEN abs(1e0+aa1/c) < 1e-300 THEN 1e-300 ELSE 1e0+aa1/c END) AS c1,
      h*d1*c1 AS h1,
      (-(a+mf)*(a+b+mf)*x)/((a+2e0*mf)*(a+1e0+2e0*mf)) AS aa2,
      1e0/(CASE WHEN abs(1e0+aa2*d1) < 1e-300 THEN 1e-300 ELSE 1e0+aa2*d1 END) AS d2,
      (CASE WHEN abs(1e0+aa2/c1) < 1e-300 THEN 1e-300 ELSE 1e0+aa2/c1 END) AS c2,
      d2*c2 AS delt,
      h1*d2*c2 AS h2
    FROM (SELECT gid, a, b, x, CAST(m AS DOUBLE)+1e0 AS mf, c, d, h
          FROM cf WHERE NOT done AND m < 200))
),
cffinal AS (
  SELECT gid, h FROM cf
  QUALIFY row_number() OVER (PARTITION BY gid ORDER BY m DESC) = 1),
ibeta AS (
  SELECT p.gid, p.t,
         CASE WHEN p.xb <= 0e0 THEN 0e0
              WHEN p.xb >= 1e0 THEN 1e0
              WHEN p.direct THEN p.front * f.h / p.a0
              ELSE 1e0 - p.front * f.h / p.b0 END AS ib
  FROM p JOIN cffinal f USING (gid)),
tcdf AS (
  SELECT gid, CASE WHEN t > 0e0 THEN 1e0 - 5e-1*ib ELSE 5e-1*ib END AS cdf
  FROM ibeta)
SELECT ag.event_type,
       CASE WHEN tc.cdf IS NULL THEN NULL ELSE {R("tc.cdf")} END AS r_prob_mom
FROM ag LEFT JOIN tcdf tc ON ag.event_type = tc.gid"""
)


@query("calc_prob_mom", _PROB_MOM_SQL)
def q_prob_mom(spark, sf_dir):
    """Engine side: native one-shuffle agg for (IR, n), vectorized pandas_udf
    t-CDF on the per-group scalars; oracle side: the same incomplete-beta
    algorithm in pure DuckDB SQL (recursive-CTE Lentz iteration)."""
    from ffn_polars_spark.functions.eod_ratios import calc_prob_mom

    r = rets(spark, sf_dir).where(F.col("r").isNotNull() & F.col("rb").isNotNull())
    out = calc_prob_mom(r, "r", "rb", by=["event_type"])
    return out.select("event_type", r6(F.col("r_prob_mom")).alias("r_prob_mom"))


# ---------------------------------------------------------------------------
# Tick scalar aggregates per event_type (#25-38).
# ---------------------------------------------------------------------------


@query(
    "calc_trade_rate",
    TICKS_SQL
    + f"""
SELECT event_type,
       {R("CAST(count(*) AS DOUBLE) / (CAST(max(ts_ns) - min(ts_ns) AS DOUBLE) / 1000000000.0)")} AS ts_ns_trade_rate
FROM ticks GROUP BY event_type""",
)
def q_trade_rate(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.groupBy("event_type").agg(
        r6(ffn.tick.calc_trade_rate("ts_ns", per="s")).alias("ts_ns_trade_rate")
    )


@query(
    "calc_inter_trade_time",
    TICKS_SQL
    + f""", d AS (
  SELECT event_type,
         CAST(ts_ns - lag(ts_ns) OVER ({W}) AS DOUBLE) / 1000000000.0 AS itt
  FROM ticks)
SELECT event_type, {R("avg(itt)")} AS ts_ns_inter_trade_time
FROM d GROUP BY event_type""",
)
def q_inter_trade_time(spark, sf_dir):
    from ffn_polars_spark.functions.tick_activity import calc_inter_trade_time

    t = ticks(spark, sf_dir)
    out = calc_inter_trade_time(t, "ts_ns", per="s", by=["event_type"])
    return out.select(
        "event_type", r6(F.col("ts_ns_inter_trade_time")).alias("ts_ns_inter_trade_time")
    )


@query(
    "calc_burstiness",
    TICKS_SQL
    + f""", d AS (
  SELECT event_type,
         CAST(ts_ns - lag(ts_ns) OVER ({W}) AS DOUBLE) / 1000000000.0 AS itt
  FROM ticks)
SELECT event_type, {R("stddev_samp(itt) / avg(itt)")} AS ts_ns_burstiness
FROM d GROUP BY event_type""",
)
def q_burstiness(spark, sf_dir):
    from ffn_polars_spark.functions.tick_activity import calc_burstiness

    t = ticks(spark, sf_dir)
    out = calc_burstiness(t, "ts_ns", per="s", by=["event_type"])
    return out.select(
        "event_type", r6(F.col("ts_ns_burstiness")).alias("ts_ns_burstiness")
    )


@query(
    "calc_volume_rate",
    TICKS_SQL
    + f"""
SELECT event_type,
       {R("CAST(sum(volume) AS DOUBLE) / (CAST(max(ts_ns) - min(ts_ns) AS DOUBLE) / 1000000000.0)")} AS volume_volume_rate
FROM ticks GROUP BY event_type""",
)
def q_volume_rate(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.groupBy("event_type").agg(
        r6(ffn.tick.calc_volume_rate("volume", "ts_ns", per="s")).alias(
            "volume_volume_rate"
        )
    )


@query(
    "tick_rule",
    TICKS_SQL
    + f"""
SELECT event_type, event_id,
       CASE WHEN price > lag(price) OVER ({W}) THEN 1
            WHEN price < lag(price) OVER ({W}) THEN -1
            ELSE 0 END AS price_direction
FROM ticks""",
)
def q_tick_rule(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.select(
        "event_type",
        "event_id",
        ffn.tick.tick_rule("price", over=TICK_OVER).alias("price_direction"),
    )


SIGNED_SQL = (
    TICKS_SQL
    + f""", signed AS (
  SELECT event_type, event_id, ts_ns, price, volume,
         volume * CAST(CASE WHEN price > lag(price) OVER ({W}) THEN 1
                            WHEN price < lag(price) OVER ({W}) THEN -1
                            ELSE 0 END AS DOUBLE) AS sv
  FROM ticks)
"""
)


def signed(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.withColumn(
        "sv", ffn.tick.apply_tick_rule_to_volume("volume", "price", over=TICK_OVER)
    )


@query(
    "apply_tick_rule_to_volume",
    SIGNED_SQL + "SELECT event_type, event_id, sv AS volume FROM signed",
)
def q_signed_volume(spark, sf_dir):
    return signed(spark, sf_dir).select(
        "event_type", "event_id", F.col("sv").alias("volume")
    )


@query(
    "calc_order_flow_imbalance",
    SIGNED_SQL
    + f"""
SELECT event_type, {R("CAST(sum(sv) AS DOUBLE)")} AS sv_order_flow_imbalance
FROM signed GROUP BY event_type""",
)
def q_ofi(spark, sf_dir):
    return (
        signed(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            r6(ffn.tick.calc_order_flow_imbalance("sv")).alias(
                "sv_order_flow_imbalance"
            )
        )
    )


@query(
    "calc_tick_imbalance",
    SIGNED_SQL
    + f""", dirs AS (
  SELECT event_type, CAST(CASE WHEN price > lag(price) OVER ({W}) THEN 1
                               WHEN price < lag(price) OVER ({W}) THEN -1
                               ELSE 0 END AS DOUBLE) AS dir
  FROM ticks)
SELECT event_type,
       {R("CAST(sum(dir) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS dir_tick_imbalance
FROM dirs GROUP BY event_type""",
)
def q_tick_imbalance(spark, sf_dir):
    t = ticks(spark, sf_dir).withColumn(
        "dir", ffn.tick.tick_rule("price", over=TICK_OVER).cast("double")
    )
    return t.groupBy("event_type").agg(
        r6(ffn.tick.calc_tick_imbalance("dir")).alias("dir_tick_imbalance")
    )


@query(
    "calc_traded_value",
    TICKS_SQL
    + f"""
SELECT event_type, {R("CAST(sum(price * volume) AS DOUBLE)")} AS price_traded_value
FROM ticks GROUP BY event_type""",
)
def q_traded_value(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.groupBy("event_type").agg(
        r6(ffn.tick.calc_traded_value("price", "volume")).alias("price_traded_value")
    )


@query(
    "calc_vwap",
    TICKS_SQL
    + f"""
SELECT event_type, {R("sum(price * volume) / CAST(sum(volume) AS DOUBLE)")} AS price_vwap
FROM ticks GROUP BY event_type""",
)
def q_vwap(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.groupBy("event_type").agg(
        r6(ffn.tick.calc_vwap("price", "volume")).alias("price_vwap")
    )


@query(
    "calc_micro_returns",
    TICKS_SQL
    + f"""
SELECT event_type, event_id,
       {R(f"ln(price) - lag(ln(price)) OVER ({W})")} AS price_micro_returns
FROM ticks""",
)
def q_micro_returns(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.select(
        "event_type",
        "event_id",
        r6(ffn.tick.calc_micro_returns("price", over=TICK_OVER)).alias(
            "price_micro_returns"
        ),
    )


@query(
    "calc_price_volatility_ratio",
    TICKS_SQL
    + f"""
SELECT event_type,
       {R("stddev_samp(price) / avg(price)")} AS price_price_volatility_ratio
FROM ticks GROUP BY event_type""",
)
def q_price_volatility_ratio(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.groupBy("event_type").agg(
        r6(ffn.tick.calc_price_volatility_ratio("price")).alias(
            "price_price_volatility_ratio"
        )
    )


@query(
    "calc_price_impact",
    TICKS_SQL
    + f"""
SELECT event_type,
       {R("(arg_max(price, ts_ns) - arg_min(price, ts_ns)) / CAST(sum(volume) AS DOUBLE)")} AS price_price_impact
FROM ticks GROUP BY event_type""",
)
def q_price_impact(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.groupBy("event_type").agg(
        r6(ffn.tick.calc_price_impact("price", "volume", "ts_ns")).alias(
            "price_price_impact"
        )
    )


@query(
    "calc_realized_volatility",
    TICKS_SQL
    + f""", r AS (
  SELECT event_type, ln(price) - lag(ln(price)) OVER ({W}) AS lr
  FROM ticks)
SELECT event_type, {R("sqrt(sum(power(lr, 2)))")} AS price_realized_volatility
FROM r GROUP BY event_type""",
)
def q_realized_volatility(spark, sf_dir):
    from ffn_polars_spark.functions.tick_price import calc_realized_volatility

    t = ticks(spark, sf_dir)
    out = calc_realized_volatility(t, "price", order_by="ts_ns", by=["event_type"])
    return out.select(
        "event_type",
        r6(F.col("price_realized_volatility")).alias("price_realized_volatility"),
    )


# ---------------------------------------------------------------------------
# Bars + bar-based estimators + activity metrics (reference roadmap
# README.md:40-64; functions/tick_bars.py).
# ---------------------------------------------------------------------------

_HOUR_NS = 3600 * 1_000_000_000

_BARS_SQL = (
    TICKS_SQL
    + f""", bars AS (
  SELECT event_type, ts_ns - ts_ns % {_HOUR_NS} AS bar_ts,
         arg_min(price, ts_ns) AS open, max(price) AS high,
         min(price) AS low, arg_max(price, ts_ns) AS close,
         count(*) AS n_ticks, min(ts_ns) AS bar_start_ts, max(ts_ns) AS bar_end_ts,
         CAST(sum(volume) AS DOUBLE) AS volume,
         sum(price * volume) / CAST(sum(volume) AS DOUBLE) AS vwap
  FROM ticks GROUP BY event_type, ts_ns - ts_ns % {_HOUR_NS})
"""
)


@query(
    "time_bars",
    _BARS_SQL
    + f"""
SELECT event_type, bar_ts, open, high, low, close, n_ticks, bar_start_ts,
       bar_end_ts, volume, {R("vwap")} AS vwap
FROM bars""",
)
def q_time_bars(spark, sf_dir):
    from ffn_polars_spark.functions.tick_bars import time_bars

    t = ticks(spark, sf_dir)
    out = time_bars(t, "ts_ns", "price", "volume", by=["event_type"], bar_ns=_HOUR_NS)
    return out.withColumn("vwap", r6(F.col("vwap")))


_DAY_NS = 24 * _HOUR_NS


@query(
    "rollup_bars",
    _BARS_SQL
    + f""",
daily AS (
  SELECT event_type, bar_ts - bar_ts % {_DAY_NS} AS bar_ts,
         arg_min(open, bar_start_ts) AS open, max(high) AS high,
         min(low) AS low, arg_max(close, bar_end_ts) AS close,
         CAST(sum(n_ticks) AS BIGINT) AS n_ticks, min(bar_start_ts) AS bar_start_ts,
         max(bar_end_ts) AS bar_end_ts,
         CAST(sum(volume) AS DOUBLE) AS volume,
         sum(vwap * volume) / CAST(sum(volume) AS DOUBLE) AS vwap
  FROM bars GROUP BY event_type, bar_ts - bar_ts % {_DAY_NS})
SELECT event_type, bar_ts, open, high, low, close, n_ticks, bar_start_ts,
       bar_end_ts, volume, {R("vwap")} AS vwap
FROM daily""",
)
def q_rollup_bars(spark, sf_dir):
    """Hypertable-style rollup: hourly bars coarsened to daily bars from the
    hourly partials (no tick re-scan)."""
    from ffn_polars_spark.functions.tick_bars import rollup_bars, time_bars

    t = ticks(spark, sf_dir)
    hourly = time_bars(t, "ts_ns", "price", "volume", by=["event_type"], bar_ns=_HOUR_NS)
    daily = rollup_bars(hourly, _DAY_NS, by=["event_type"])
    return daily.withColumn("vwap", r6(F.col("vwap")))


@query(
    "tick_bars",
    TICKS_SQL
    + f""", numbered AS (
  SELECT *, CAST(floor((row_number() OVER ({W}) - 1) / 100.0) AS BIGINT) AS bar_id
  FROM ticks)
SELECT event_type, bar_id, arg_min(price, ts_ns) AS open, max(price) AS high,
       min(price) AS low, arg_max(price, ts_ns) AS close,
       count(*) AS n_ticks, min(ts_ns) AS bar_start_ts, max(ts_ns) AS bar_end_ts,
       CAST(sum(volume) AS DOUBLE) AS volume,
       {R("sum(price * volume) / CAST(sum(volume) AS DOUBLE)")} AS vwap
FROM numbered GROUP BY event_type, bar_id""",
)
def q_tick_bars(spark, sf_dir):
    from ffn_polars_spark.functions.tick_bars import tick_bars

    t = ticks(spark, sf_dir)
    out = tick_bars(t, "ts_ns", "price", "volume", by=["event_type"], ticks_per_bar=100)
    return out.withColumn("vwap", r6(F.col("vwap")))


@query(
    "volume_bars",
    TICKS_SQL
    + f""", cum AS (
  SELECT *, sum(volume) OVER ({WR}) - volume AS prev_cum
  FROM ticks),
binned AS (SELECT *, CAST(floor(prev_cum / 5000.0) AS BIGINT) AS bar_id FROM cum)
SELECT event_type, bar_id, arg_min(price, ts_ns) AS open, max(price) AS high,
       min(price) AS low, arg_max(price, ts_ns) AS close,
       count(*) AS n_ticks, min(ts_ns) AS bar_start_ts, max(ts_ns) AS bar_end_ts,
       CAST(sum(volume) AS DOUBLE) AS volume,
       {R("sum(price * volume) / CAST(sum(volume) AS DOUBLE)")} AS vwap
FROM binned GROUP BY event_type, bar_id""",
)
def q_volume_bars(spark, sf_dir):
    from ffn_polars_spark.functions.tick_bars import volume_bars

    t = ticks(spark, sf_dir)
    out = volume_bars(
        t, "ts_ns", "price", "volume", by=["event_type"], volume_per_bar=5000.0
    )
    return out.withColumn("vwap", r6(F.col("vwap")))


@query(
    "dollar_bars",
    TICKS_SQL
    + f""", cum AS (
  SELECT *, sum(price * volume) OVER ({WR}) - price * volume AS prev_cum
  FROM ticks),
binned AS (SELECT *, CAST(floor(prev_cum / 500000.0) AS BIGINT) AS bar_id FROM cum)
SELECT event_type, bar_id, arg_min(price, ts_ns) AS open, max(price) AS high,
       min(price) AS low, arg_max(price, ts_ns) AS close,
       count(*) AS n_ticks, min(ts_ns) AS bar_start_ts, max(ts_ns) AS bar_end_ts,
       CAST(sum(volume) AS DOUBLE) AS volume,
       {R("sum(price * volume) / CAST(sum(volume) AS DOUBLE)")} AS vwap
FROM binned GROUP BY event_type, bar_id""",
)
def q_dollar_bars(spark, sf_dir):
    """Dollar bars (bars close when cumulative traded value crosses the
    threshold) — the last registered bar constructor without its own
    catalog row."""
    from ffn_polars_spark.functions.tick_bars import dollar_bars

    t = ticks(spark, sf_dir)
    out = dollar_bars(
        t, "ts_ns", "price", "volume", by=["event_type"], dollars_per_bar=500_000.0
    )
    return out.withColumn("vwap", r6(F.col("vwap")))


@query(
    "bar_volatility",
    _BARS_SQL
    + f"""
SELECT event_type,
       {R("sqrt(avg(power(ln(high / low), 2)) / (4 * ln(2)))")} AS parkinson_vol,
       {R("sqrt(avg(0.5 * power(ln(high / low), 2) - (2 * ln(2) - 1) * power(ln(close / open), 2)))")} AS garman_klass_vol
FROM bars GROUP BY event_type""",
)
def q_bar_volatility(spark, sf_dir):
    from ffn_polars_spark.functions.tick_bars import (
        garman_klass_volatility,
        parkinson_volatility,
        time_bars,
    )

    t = ticks(spark, sf_dir)
    bars = time_bars(t, "ts_ns", "price", "volume", by=["event_type"], bar_ns=_HOUR_NS)
    return bars.groupBy("event_type").agg(
        r6(parkinson_volatility("high", "low")).alias("parkinson_vol"),
        r6(garman_klass_volatility("open", "high", "low", "close")).alias(
            "garman_klass_vol"
        ),
    )


@query(
    "quote_to_trade_ratio",
    TICKS_SQL
    + f""", qc AS (
  SELECT ts_ns - ts_ns % {_HOUR_NS} AS bar_ts, count(*) AS n_quotes
  FROM ticks WHERE event_type = 'click' GROUP BY 1),
tc AS (
  SELECT ts_ns - ts_ns % {_HOUR_NS} AS bar_ts, count(*) AS n_trades
  FROM ticks WHERE event_type = 'purchase' GROUP BY 1)
SELECT coalesce(qc.bar_ts, tc.bar_ts) AS bar_ts,
       coalesce(n_quotes, 0) AS n_quotes,
       coalesce(n_trades, 0) AS n_trades,
       {R("CAST(coalesce(n_quotes, 0) AS DOUBLE) / nullif(CAST(coalesce(n_trades, 0) AS DOUBLE), 0.0)")} AS quote_to_trade_ratio
FROM qc FULL JOIN tc ON qc.bar_ts = tc.bar_ts""",
)
def q_quote_to_trade_ratio(spark, sf_dir):
    from ffn_polars_spark.functions.tick_bars import quote_to_trade_ratio

    t = ticks(spark, sf_dir)
    out = quote_to_trade_ratio(
        t.where(F.col("event_type") == "click"),
        t.where(F.col("event_type") == "purchase"),
        "ts_ns",
        bar_ns=_HOUR_NS,
    )
    return out.withColumn("quote_to_trade_ratio", r6(F.col("quote_to_trade_ratio")))


@query(
    "idle_time",
    TICKS_SQL
    + f""", g AS (
  SELECT event_type, ts_ns - lag(ts_ns) OVER ({W}) AS gap,
         ts_ns
  FROM ticks)
SELECT event_type,
       CAST(sum(CASE WHEN gap > 60000000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_idle_gaps,
       {R("CAST(sum(CASE WHEN gap > 60000000000 THEN gap ELSE 0 END) AS DOUBLE) / CAST(max(ts_ns) - min(ts_ns) AS DOUBLE)")} AS idle_frac
FROM g GROUP BY event_type""",
)
def q_idle_time(spark, sf_dir):
    from ffn_polars_spark.functions.tick_bars import idle_time

    t = ticks(spark, sf_dir)
    out = idle_time(
        t,
        "ts_ns",
        by=["event_type"],
        threshold_ns=60 * 1_000_000_000,
        tiebreak=["event_id"],
    )
    return out.withColumn("idle_frac", r6(F.col("idle_frac")))


@query(
    "detect_bursts",
    TICKS_SQL
    + f""", counts AS (
  SELECT event_type, ts_ns - ts_ns % {_HOUR_NS} AS bar_ts, count(*) AS n_ticks
  FROM ticks GROUP BY 1, 2),
roll AS (
  SELECT event_type, bar_ts, n_ticks,
         avg(n_ticks) OVER w AS mu,
         stddev_samp(n_ticks) OVER w AS sd
  FROM counts
  WINDOW w AS (PARTITION BY event_type ORDER BY bar_ts ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
SELECT event_type, bar_ts, n_ticks,
       {R("(n_ticks - mu) / greatest(coalesce(sd, 0.0), 1e-9)")} AS zscore,
       coalesce((n_ticks - mu) / greatest(coalesce(sd, 0.0), 1e-9) > 2.0, false) AS is_burst
FROM roll""",
)
def q_detect_bursts(spark, sf_dir):
    from ffn_polars_spark.functions.tick_bars import detect_bursts

    t = ticks(spark, sf_dir)
    out = detect_bursts(
        t, "ts_ns", by=["event_type"], bar_ns=_HOUR_NS, lookback_bars=24,
        z_threshold=2.0,
    )
    return out.withColumn("zscore", r6(F.col("zscore")))


@query(
    "volume_profile",
    TICKS_SQL
    + f""", vp AS (
  SELECT event_type, floor(price / 1.0) * 1.0 AS price_bin,
         CAST(sum(volume) AS DOUBLE) AS volume
  FROM ticks GROUP BY 1, 2)
SELECT event_type, price_bin, volume,
       {R("volume / sum(volume) OVER (PARTITION BY event_type)")} AS volume_share
FROM vp""",
)
def q_volume_profile(spark, sf_dir):
    from ffn_polars_spark.functions.tick_bars import volume_profile

    t = ticks(spark, sf_dir)
    out = volume_profile(t, "price", "volume", by=["event_type"], bin_width=1.0)
    return out.withColumn("volume_share", r6(F.col("volume_share")))


# ---------------------------------------------------------------------------
# Wide-table helpers (operators/wide.py).
# ---------------------------------------------------------------------------


@query(
    "melt_wide",
    """
SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem""",
)
def q_melt_wide(spark, sf_dir):
    from ffn_polars_spark.operators.wide import melt

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("quantity"),
        F.col("l_discount").alias("discount"),
        F.col("l_tax").alias("tax"),
    )
    return melt(
        li,
        ["l_orderkey", "l_linenumber"],
        ["quantity", "discount", "tax"],
        key_name="metric",
        value_name="val",
    )


# ---------------------------------------------------------------------------
# Skew mitigation (operators/skew.py) — the salted rewrite must be
# result-identical to the direct GROUP BY, which IS the oracle.
# ---------------------------------------------------------------------------


@query(
    "salted_agg",
    f"""
SELECT event_type,
       count(*) AS n,
       {R("CAST(sum(value) AS DOUBLE)")} AS total_value,
       {R("avg(value)")} AS mean_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM events GROUP BY event_type""",
)
def q_salted_agg(spark, sf_dir):
    from ffn_polars_spark.operators.skew import salted_agg

    ev = read_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        "event_type",
        {
            "n": ("count", "*"),
            "total_value": ("sum", "value"),
            "mean_value": ("avg", "value"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
        buckets=16,
    )
    return out.select(
        "event_type",
        "n",
        r6(F.col("total_value")).alias("total_value"),
        r6(F.col("mean_value")).alias("mean_value"),
        "min_value",
        "max_value",
    )


# ---------------------------------------------------------------------------
# Rolling-window series operators (functions/rolling.py).
# ---------------------------------------------------------------------------

_ROLL_W = f"{W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW"


@query(
    "rolling_stats",
    TICKS_SQL
    + f"""
SELECT event_type, event_id,
       CASE WHEN count(price) OVER ({_ROLL_W}) >= 20 THEN {R(f"avg(price) OVER ({_ROLL_W})")} END AS price_rolling_mean,
       CASE WHEN count(price) OVER ({_ROLL_W}) >= 20 THEN {R(f"stddev_samp(price) OVER ({_ROLL_W})")} END AS price_rolling_std,
       CASE WHEN count(price) OVER ({_ROLL_W}) >= 20 THEN min(price) OVER ({_ROLL_W}) END AS price_rolling_min,
       CASE WHEN count(price) OVER ({_ROLL_W}) >= 20 THEN max(price) OVER ({_ROLL_W}) END AS price_rolling_max,
       CASE WHEN count(price) OVER ({_ROLL_W}) >= 20 THEN {R(f"(price - avg(price) OVER ({_ROLL_W})) / stddev_samp(price) OVER ({_ROLL_W})")} END AS price_rolling_zscore,
       CASE WHEN count(price) OVER ({_ROLL_W}) >= 20 THEN {R(f"sum(price) OVER ({_ROLL_W})")} END AS price_rolling_sum
FROM ticks""",
)
def q_rolling_stats(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.select(
        "event_type",
        "event_id",
        r6(ffn.eod.rolling_mean("price", 20, over=TICK_OVER)).alias("price_rolling_mean"),
        r6(ffn.eod.rolling_std("price", 20, over=TICK_OVER)).alias("price_rolling_std"),
        ffn.eod.rolling_min("price", 20, over=TICK_OVER).alias("price_rolling_min"),
        ffn.eod.rolling_max("price", 20, over=TICK_OVER).alias("price_rolling_max"),
        r6(ffn.eod.rolling_zscore("price", 20, over=TICK_OVER)).alias("price_rolling_zscore"),
        r6(ffn.eod.rolling_sum("price", 20, over=TICK_OVER)).alias("price_rolling_sum"),
    )


@query(
    "rolling_corr",
    TICKS_SQL
    + f"""
SELECT event_type, event_id,
       CASE WHEN count(price) OVER ({_ROLL_W}) >= 20 THEN {R(f"corr(price, price_b) OVER ({_ROLL_W})")} END AS price_rolling_corr
FROM ticks""",
)
def q_rolling_corr(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.select(
        "event_type",
        "event_id",
        r6(ffn.eod.rolling_corr("price", "price_b", 20, over=TICK_OVER)).alias(
            "price_rolling_corr"
        ),
    )


# ---------------------------------------------------------------------------
# Quote analytics (reference's declared-but-empty quote namespace;
# functions/quote.py). ask/bid derived deterministically from the ticks frame.
# ---------------------------------------------------------------------------

_QUOTES_SQL = (
    TICKS_SQL
    + """, quotes AS (
  SELECT event_type, event_id, ts_ns,
         greatest(price, price_b) AS ask, least(price, price_b) AS bid,
         volume AS ask_size, CAST(event_id % 50 + 1 AS DOUBLE) AS bid_size
  FROM ticks)
"""
)


def _quotes_frame(spark, sf_dir):
    t = ticks(spark, sf_dir)
    return t.select(
        "event_type",
        "event_id",
        "ts_ns",
        F.greatest("price", "price_b").alias("ask"),
        F.least("price", "price_b").alias("bid"),
        F.col("volume").alias("ask_size"),
        ((F.col("event_id") % 50) + 1).cast("double").alias("bid_size"),
    )


@query(
    "quote_analytics",
    _QUOTES_SQL
    + f"""
SELECT event_type, event_id,
       {R("ask - bid")} AS ask_quoted_spread,
       {R("(ask + bid) / 2.0")} AS ask_midpoint,
       {R("(ask - bid) / ((ask + bid) / 2.0)")} AS ask_relative_spread,
       {R("(bid_size * ask + ask_size * bid) / (ask_size + bid_size)")} AS ask_microprice,
       {R("(bid_size - ask_size) / (bid_size + ask_size)")} AS bid_size_quote_imbalance
FROM quotes""",
)
def q_quote_analytics(spark, sf_dir):
    q = _quotes_frame(spark, sf_dir)
    return q.select(
        "event_type",
        "event_id",
        r6(ffn.tick.quoted_spread("ask", "bid")).alias("ask_quoted_spread"),
        r6(ffn.tick.midpoint("ask", "bid")).alias("ask_midpoint"),
        r6(ffn.tick.relative_spread("ask", "bid")).alias("ask_relative_spread"),
        r6(ffn.tick.microprice("ask", "bid", "ask_size", "bid_size")).alias(
            "ask_microprice"
        ),
        r6(ffn.tick.quote_imbalance("bid_size", "ask_size")).alias(
            "bid_size_quote_imbalance"
        ),
    )


@query(
    "effective_spread",
    _QUOTES_SQL
    + f""", sgn AS (
  SELECT event_type, event_id, ask, bid,
         CASE WHEN ask > lag(ask) OVER (PARTITION BY event_type ORDER BY ts_ns, event_id) THEN 1
              WHEN ask < lag(ask) OVER (PARTITION BY event_type ORDER BY ts_ns, event_id) THEN -1
              ELSE 0 END AS d
  FROM quotes)
SELECT event_type, event_id,
       {R("2.0 * d * (ask - (ask + bid) / 2.0)")} AS eff_spread
FROM sgn""",
)
def q_effective_spread(spark, sf_dir):
    q = _quotes_frame(spark, sf_dir)
    d = ffn.tick.tick_rule("ask", over=TICK_OVER)
    return q.select(
        "event_type",
        "event_id",
        r6(
            ffn.tick.effective_spread(
                "ask", ffn.tick.midpoint("ask", "bid"), d
            )
        ).alias("eff_spread"),
    )


@query(
    "time_weighted_spread",
    _QUOTES_SQL
    + f""", w AS (
  SELECT event_type,
         (ask - bid) * CAST(lead(ts_ns) OVER (PARTITION BY event_type ORDER BY ts_ns, event_id) - ts_ns AS DOUBLE) AS ws,
         CAST(lead(ts_ns) OVER (PARTITION BY event_type ORDER BY ts_ns, event_id) - ts_ns AS DOUBLE) AS wt
  FROM quotes)
SELECT event_type, {R("sum(ws) / sum(wt)")} AS ask_twa_spread
FROM w GROUP BY event_type""",
)
def q_time_weighted_spread(spark, sf_dir):
    from ffn_polars_spark.functions.quote import time_weighted_spread

    q = _quotes_frame(spark, sf_dir)
    out = time_weighted_spread(q, "ask", "bid", "ts_ns", by=["event_type"])
    return out.select("event_type", r6(F.col("ask_twa_spread")).alias("ask_twa_spread"))


# ---------------------------------------------------------------------------
# Frequency inference (#22, #23) on synthetic regular calendars.
# ---------------------------------------------------------------------------

_NPERIODS_LADDER = """
  CASE WHEN abs(mode_s - 365*86400.0) <= 86400.0 THEN 1
       WHEN abs(mode_s - 91*86400.0) <= 3*86400.0 THEN 4
       WHEN abs(mode_s - 30*86400.0) <= 3*86400.0 THEN 12
       WHEN abs(mode_s - 7*86400.0) <= 60.0 THEN 52
       WHEN abs(mode_s - 86400.0) <= 10.0 THEN 252
       WHEN abs(mode_s - 3600.0) <= 5.0 THEN 252*24
       WHEN abs(mode_s - 60.0) <= 1.0 THEN 252*24*60
       WHEN abs(mode_s - 1.0) <= 0.1 THEN 252*24*60*60
       WHEN mode_s > 0 THEN CAST(round(252.0 * 86400.0 / mode_s) AS BIGINT)
  END
"""


@query(
    "infer_nperiods",
    """WITH cal AS (
  SELECT event_type,
         TIMESTAMP '2020-01-01' + CAST(row_number() OVER (PARTITION BY event_type ORDER BY event_id) AS INT) * INTERVAL 1 DAY AS tsd
  FROM events),
d AS (
  SELECT event_type,
         epoch_us(tsd)/1000000.0 - lag(epoch_us(tsd)/1000000.0) OVER (PARTITION BY event_type ORDER BY tsd) AS delta
  FROM cal),
v AS (SELECT event_type, delta FROM d WHERE delta IS NOT NULL AND delta > 1e-9),
stats AS (SELECT event_type, stddev_samp(delta) AS sd, count(*) AS m FROM v GROUP BY event_type),
cnts AS (SELECT event_type, delta, count(*) AS c FROM v GROUP BY event_type, delta),
md AS (SELECT event_type, delta AS mode_s FROM cnts
       QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY c DESC, delta ASC) = 1)
SELECT stats.event_type,
       CASE WHEN m >= 1 AND coalesce(sd, 0.0) <= 1e-3 THEN """
    + _NPERIODS_LADDER
    + """ END AS tsd_nperiods
FROM stats JOIN md ON stats.event_type = md.event_type""",
)
def q_infer_nperiods(spark, sf_dir):
    from ffn_polars_spark.functions.eod_temporal import infer_nperiods

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    cal = ev.select(
        "event_type",
        F.to_timestamp(
            F.date_add(F.to_date(F.lit("2020-01-01")), F.row_number().over(w))
        ).alias("tsd"),
    )
    return infer_nperiods(cal, "tsd", by=["event_type"])


@query(
    "infer_freq",
    """WITH cal AS (
  SELECT event_type,
         TIMESTAMP '2020-01-01' + CAST(row_number() OVER (PARTITION BY event_type ORDER BY event_id) * 7 AS INT) * INTERVAL 1 DAY AS tsd
  FROM events),
d AS (
  SELECT event_type,
         epoch_us(tsd)/1000000.0 - lag(epoch_us(tsd)/1000000.0) OVER (PARTITION BY event_type ORDER BY tsd) AS delta
  FROM cal),
v AS (SELECT event_type, delta FROM d WHERE delta IS NOT NULL AND delta > 1e-9),
stats AS (SELECT event_type, stddev_samp(delta) AS sd FROM v GROUP BY event_type),
cnts AS (SELECT event_type, delta, count(*) AS c FROM v GROUP BY event_type, delta),
md AS (SELECT event_type, delta / 86400.0 AS mode_d FROM cnts
       QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY c DESC, delta ASC) = 1)
SELECT stats.event_type,
       CASE WHEN sd IS NULL OR sd / 86400.0 > 1.0 THEN 'unknown'
            WHEN abs(mode_d - 365.25) < 5 THEN 'yearly'
            WHEN abs(mode_d - 91) <= 3 THEN 'quarterly'
            WHEN abs(mode_d - 30) <= 3 THEN 'monthly'
            WHEN abs(mode_d - 7) <= 1 THEN 'weekly'
            WHEN abs(mode_d - 1) <= 0.1 THEN 'daily'
            ELSE 'unknown' END AS tsd_inferred_freq
FROM stats JOIN md ON stats.event_type = md.event_type""",
)
def q_infer_freq(spark, sf_dir):
    from ffn_polars_spark.functions.eod_temporal import infer_freq

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    cal = ev.select(
        "event_type",
        F.to_timestamp(
            F.date_add(F.to_date(F.lit("2020-01-01")), F.row_number().over(w) * 7)
        ).alias("tsd"),
    )
    return infer_freq(cal, "tsd", by=["event_type"])


# ---------------------------------------------------------------------------
# As-of joins (#sim/§2.10) — purchases pick up the latest prior click per user.
# ---------------------------------------------------------------------------


@query(
    "asof_join_backward",
    TICKS_SQL
    + """
SELECT p.event_id, p.user_id, p.ts_ns, c.price AS click_price
FROM (SELECT * FROM ticks WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM ticks WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts_ns >= c.ts_ns""",
)
def q_asof_backward(spark, sf_dir):
    from ffn_polars_spark.operators.asof import asof_join

    t = ticks(spark, sf_dir)
    purch = t.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ns"
    )
    clicks = t.where(F.col("event_type") == "click").select(
        "user_id", "ts_ns", F.col("price").alias("click_price")
    )
    return asof_join(purch, clicks, on="ts_ns", by="user_id", strategy="backward")


@query(
    "asof_join_interp",
    TICKS_SQL
    + """, p AS (SELECT event_id, user_id, ts_ns FROM ticks WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts_ns, price FROM ticks WHERE event_type = 'click'),
bwd AS (
  SELECT p.event_id, p.user_id, p.ts_ns, c.ts_ns AS t0, c.price AS v0
  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_ns >= c.ts_ns),
fwd AS (
  SELECT p.event_id, c.ts_ns AS t1, c.price AS v1
  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_ns <= c.ts_ns)
SELECT b.event_id, b.user_id, b.ts_ns,
       """
    + R(
        "CASE WHEN b.t0 IS NULL THEN f.v1 "
        "WHEN f.t1 IS NULL THEN b.v0 "
        "WHEN f.t1 = b.t0 THEN b.v0 "
        "ELSE CAST(b.v0 AS DOUBLE) + (CAST(f.v1 AS DOUBLE) - CAST(b.v0 AS DOUBLE)) * "
        "((CAST(b.ts_ns AS DOUBLE) - CAST(b.t0 AS DOUBLE)) / (CAST(f.t1 AS DOUBLE) - CAST(b.t0 AS DOUBLE))) END"
    )
    + """ AS click_price
FROM bwd b JOIN fwd f ON b.event_id = f.event_id""",
)
def q_asof_interp(spark, sf_dir):
    from ffn_polars_spark.operators.asof import interp_asof_join

    t = ticks(spark, sf_dir)
    purch = t.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ns"
    )
    clicks = t.where(F.col("event_type") == "click").select(
        "user_id", "ts_ns", F.col("price").alias("click_price")
    )
    out = interp_asof_join(
        purch, clicks, on="ts_ns", value_cols="click_price", by="user_id"
    )
    return out.select(
        "event_id", "user_id", "ts_ns", r6(F.col("click_price")).alias("click_price")
    )


@query(
    "asof_join_forward",
    TICKS_SQL
    + """
SELECT p.event_id, p.user_id, p.ts_ns, c.price AS click_price
FROM (SELECT * FROM ticks WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM ticks WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts_ns <= c.ts_ns""",
)
def q_asof_forward(spark, sf_dir):
    from ffn_polars_spark.operators.asof import asof_join

    t = ticks(spark, sf_dir)
    purch = t.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ns"
    )
    clicks = t.where(F.col("event_type") == "click").select(
        "user_id", "ts_ns", F.col("price").alias("click_price")
    )
    return asof_join(purch, clicks, on="ts_ns", by="user_id", strategy="forward")


@query(
    "asof_join_nearest",
    TICKS_SQL
    + """, p AS (SELECT event_id, user_id, ts_ns FROM ticks WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts_ns, price FROM ticks WHERE event_type = 'click'),
bwd AS (
  SELECT p.event_id, p.user_id, p.ts_ns, c.ts_ns AS bt, c.price AS bv
  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_ns >= c.ts_ns),
fwd AS (
  SELECT p.event_id, c.ts_ns AS ft, c.price AS fv
  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_ns <= c.ts_ns)
SELECT b.event_id, b.user_id, b.ts_ns,
       CASE WHEN bt IS NOT NULL AND (ft IS NULL OR (b.ts_ns - bt) <= (ft - b.ts_ns))
            THEN bv ELSE fv END AS click_price
FROM bwd b JOIN fwd f ON b.event_id = f.event_id""",
)
def q_asof_nearest(spark, sf_dir):
    from ffn_polars_spark.operators.asof import asof_join

    t = ticks(spark, sf_dir)
    purch = t.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ns"
    )
    clicks = t.where(F.col("event_type") == "click").select(
        "user_id", "ts_ns", F.col("price").alias("click_price")
    )
    return asof_join(purch, clicks, on="ts_ns", by="user_id", strategy="nearest")


@query(
    "asof_join_tolerance",
    TICKS_SQL
    + """
SELECT p.event_id, p.user_id, p.ts_ns,
       CASE WHEN p.ts_ns - c.ts_ns <= 3600000000000 THEN c.price END AS click_price
FROM (SELECT * FROM ticks WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM ticks WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts_ns >= c.ts_ns""",
)
def q_asof_tolerance(spark, sf_dir):
    from ffn_polars_spark.operators.asof import asof_join

    t = ticks(spark, sf_dir)
    purch = t.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_ns"
    )
    clicks = t.where(F.col("event_type") == "click").select(
        "user_id", "ts_ns", F.col("price").alias("click_price")
    )
    return asof_join(
        purch, clicks, on="ts_ns", by="user_id", strategy="backward",
        tolerance=3600 * 1_000_000_000,
    )


# ---------------------------------------------------------------------------
# Bootstrap resampling (#39).
#
# Round 5: both entries moved from rows-only to hash-exact by drawing from
# the portable md5-60 hash (operators/resample.py) instead of F.rand — the
# DuckDB oracle replays the identical samples.  The F.rand fast path stays
# the library default and is shape/moment-pinned by tests/test_resample.py.
# ---------------------------------------------------------------------------

_BOOT_SQL = (
    TICKS_SQL
    + f""", boot AS (
  SELECT event_id, price / lag(price) OVER ({W}) - 1 AS r
  FROM ticks
)"""
)


def _boot(spark, sf_dir):
    """event_id-keyed tick returns: the bootstrap source frame (event_id is
    globally unique in the testdata, so it is both the hash key and the
    row-index order)."""
    t = ticks(spark, sf_dir)
    return t.select(
        "event_id",
        ffn.eod.to_returns("price", over=TICK_OVER).alias("r"),
    ).where(F.col("r").isNotNull())


def _boot_hash_sql(trial: str, j: str, seed: int) -> str:
    """DuckDB twin of resample.py's _md5_60(concat_ws(':', a, b, seed))."""
    s = f"CAST({trial} AS VARCHAR) || ':' || CAST({j} AS VARCHAR) || ':{seed}'"
    return f"('0x' || substr(md5({s}), 18, 15))::BIGINT"


@query(
    "resample_returns",
    _BOOT_SQL
    + f""", src AS (
  SELECT event_id, r, row_number() OVER (ORDER BY event_id) - 1 AS idx
  FROM boot WHERE r IS NOT NULL),
draws AS (
  SELECT t.trial,
         {_boot_hash_sql("t.trial", "s.idx", 7)} % (SELECT count(*) FROM src) AS idx
  FROM range(20) t(trial) CROSS JOIN src s)
SELECT trial, {R("avg(r)")} AS mean_r
FROM draws JOIN src USING (idx)
GROUP BY trial""",
)
def q_resample_returns(spark, sf_dir):
    """Exact n-of-n bootstrap, 20 trials of the mean return, every draw
    replayed bit-identically by the oracle via md5(trial:j:seed)."""
    from ffn_polars_spark.operators.resample import resample_returns_hash

    return resample_returns_hash(
        _boot(spark, sf_dir),
        {"mean_r": r6(F.avg("r"))},
        key_col="event_id",
        num_trials=20,
        seed=7,
    )


def _poisson16_ladder_sql(h: str) -> str:
    from ffn_polars_spark.operators.resample import _POISSON1_CDF_16

    whens = " ".join(
        f"WHEN {h} < {_POISSON1_CDF_16[k]} THEN {k}" for k in range(9)
    )
    return f"CASE {whens} ELSE 9 END"


# DuckDB twin of the blocked draw in operators/resample.py: one md5 per
# (key, 8-trial block), slot = trial % 8 selecting 4 hex chars = a 16-bit
# uniform.
_BOOT_H16_SQL = (
    "('0x' || substr(md5(CAST(s.event_id AS VARCHAR) || ':' || "
    "CAST(t.trial // 8 AS VARCHAR) || ':7'), "
    "1 + 4 * CAST(t.trial % 8 AS INT), 4))::BIGINT"
)


@query(
    "resample_returns_poisson",
    _BOOT_SQL
    + f""", src AS (SELECT event_id, r FROM boot WHERE r IS NOT NULL),
rep AS (
  SELECT t.trial, s.r,
         {_poisson16_ladder_sql(_BOOT_H16_SQL)} AS reps
  FROM range(100) t(trial) CROSS JOIN src s),
ex AS (SELECT trial, r, unnest(range(reps)) AS k FROM rep)
SELECT trial, {R("avg(r)")} AS mean_r, {R("stddev_samp(r)")} AS std_r
FROM ex
GROUP BY trial""",
)
def q_resample_returns_poisson(spark, sf_dir):
    """Single-pass distributed bootstrap (Poisson replication), 100 trials,
    deterministic blocked-md5 replicate counts — the 100 TB path, hash-exact
    against the oracle's identical replay."""
    from ffn_polars_spark.operators.resample import resample_returns_poisson

    return resample_returns_poisson(
        _boot(spark, sf_dir),
        {"mean_r": r6(F.avg("r")), "std_r": r6(F.stddev_samp("r"))},
        num_trials=100,
        seed=7,
        key_col="event_id",
    )


# ---------------------------------------------------------------------------
# Relational benchmarks (I/O + join + agg surface Spark brings for free;
# SURVEY.md §2.12). Money sums go through DECIMAL for exact cross-engine
# addition; see module docstring.
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       {R("avg(l_quantity)")} AS avg_qty,
       {R("avg(l_extendedprice)")} AS avg_price,
       {R("avg(l_discount)")} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus""",
)
def q_pricing_summary(spark, sf_dir):
    from ffn_polars_spark.operators._scanmeta import spread_scan

    # r13: the four DECIMAL sums cost ~0.95 s of per-row cast+add CPU at
    # sf0.1, and the map-side partial aggregate runs entirely inside the
    # scan task — a single-row-group file pins ALL of it to one core.
    # spread_scan is the same conditional guard the dedup/text pipelines
    # use: a no-op on sanely-row-grouped input (no extra exchange at real
    # scale), a keyed repartition here. Measured 1.23 -> 0.93 s.
    li = spread_scan(read_table(spark, sf_dir, "lineitem"), "l_orderkey")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum(disc.cast("decimal(18,6)")).cast("double").alias("sum_disc_price"),
            F.sum(charge.cast("decimal(18,6)")).cast("double").alias("sum_charge"),
            r6(F.avg("l_quantity")).alias("avg_qty"),
            r6(F.avg("l_extendedprice")).alias("avg_price"),
            r6(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "revenue_by_nation",
    """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name""",
)
def q_revenue_by_nation(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    nation = read_table(spark, sf_dir, "nation")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            orders.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(disc.cast("decimal(18,6)")).cast("double").alias("revenue"))
    )


@query(
    "top_customers",
    """
WITH rev AS (
  SELECT n_name, c_custkey, c_name,
         CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, c_custkey, c_name)
SELECT n_name, c_custkey, c_name, revenue,
       CAST(row_number() OVER (PARTITION BY n_name ORDER BY revenue DESC, c_custkey ASC) AS BIGINT) AS rank
FROM rev
QUALIFY rank <= 3""",
)
def q_top_customers(spark, sf_dir):
    from ffn_polars_spark.operators._scanmeta import spread_scan

    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    # Same conditional guard as pricing_summary (r13): a single-row-group
    # lineitem file pins the joins + the DECIMAL partial aggregate to one
    # scan task; spreading the scan (narrow: pruning keeps only the three
    # join/agg columns in the exchange) parallelizes the BigDecimal work.
    # Measured 1.547 -> 1.080 min-of-5 at sf0.1 (canary 0.19). No-op at
    # real scale (guard fires only when effective parallelism < slots/2).
    # Result-identical: the aggregate is an order-exact DECIMAL sum.
    # revenue_by_nation measured WORSE with the same spread (0.728 ->
    # 0.849): its orders-date filter shrinks the joined agg work below the
    # exchange's cost, so it deliberately stays unspread.
    li = spread_scan(read_table(spark, sf_dir, "lineitem"), "l_orderkey")
    nation = read_table(spark, sf_dir, "nation")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "c_custkey", "c_name")
        .agg(F.sum(disc.cast("decimal(18,6)")).cast("double").alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
    return (
        rev.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
    )


# ---------------------------------------------------------------------------
# Dedup / text / similarity / multimodal / sessions (pipeline extensions).
# ---------------------------------------------------------------------------

NORM_SQL = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"


@query(
    "dedup_exact",
    f"""
WITH fp AS (SELECT doc_id, md5({NORM_SQL}) AS fingerprint FROM documents),
g AS (SELECT fingerprint, min(doc_id) AS canonical_id FROM fp GROUP BY fingerprint)
SELECT fp.doc_id, fp.fingerprint, g.canonical_id,
       fp.doc_id <> g.canonical_id AS is_duplicate
FROM fp JOIN g ON fp.fingerprint = g.fingerprint""",
)
def q_dedup_exact(spark, sf_dir):
    from ffn_polars_spark.operators.dedup import dedup_exact

    docs = read_table(spark, sf_dir, "documents")
    return dedup_exact(docs)


@query(
    "doc_fingerprint",
    f"SELECT doc_id, md5({NORM_SQL}) AS fingerprint FROM documents",
)
def q_doc_fingerprint(spark, sf_dir):
    from ffn_polars_spark.operators.text import fingerprint

    docs = read_table(spark, sf_dir, "documents")
    return fingerprint(docs)


TRIGRAM_SQL = """tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w,
         generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS pos
  FROM documents),
tri AS (
  SELECT doc_id,
         w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS sh
  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(w, 2) OVER win IS NOT NULL),
shd AS (SELECT DISTINCT doc_id, sh FROM tri),
sizes AS (SELECT doc_id, count(*) AS sz FROM shd GROUP BY doc_id)"""


@query(
    "ngram_jaccard_pairs",
    f"""
WITH {TRIGRAM_SQL},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM shd a JOIN shd b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b,
       {R("i / CAST(sa.sz + sb.sz - i AS DOUBLE)")} AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE {R("i / CAST(sa.sz + sb.sz - i AS DOUBLE)")} >= 0.5""",
)
def q_ngram_jaccard(spark, sf_dir):
    from ffn_polars_spark.operators.dedup import ngram_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5)


@query(
    "dedup_canonical",
    f"""
WITH RECURSIVE fp AS (SELECT doc_id, md5({NORM_SQL}) AS h FROM documents),
g AS (SELECT h, min(doc_id) AS canon FROM fp GROUP BY h),
{TRIGRAM_SQL.replace("tok AS", "tok AS")},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM shd a JOIN shd b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE i / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.5),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
walk AS (
  SELECT node, node AS lbl FROM nodes
  UNION
  SELECT e.dst AS node, w.lbl FROM walk w JOIN edges e ON w.node = e.src),
comp AS (SELECT node, min(lbl) AS c FROM walk GROUP BY node)
SELECT d.doc_id,
       coalesce(comp.c, d.doc_id) AS canonical_id,
       d.doc_id <> coalesce(comp.c, d.doc_id) AS is_duplicate
FROM documents d LEFT JOIN comp ON d.doc_id = comp.node""",
)
def q_dedup_canonical(spark, sf_dir):
    """Near-dup pairs (exact trigram Jaccard >= 0.5) -> connected components
    -> canonical assignment; the oracle recomputes components with a
    recursive CTE."""
    from ffn_polars_spark.operators.dedup import (
        dedup_assign_canonical,
        ngram_jaccard_pairs,
    )

    docs = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    return dedup_assign_canonical(docs, pairs)


# dedup_cluster_stats shares the dedup_canonical oracle verbatim up to the
# final assignment SELECT, which it folds into cluster-size aggregates.
_CLUSTER_STATS_SQL = ORACLE_SQL["dedup_canonical"].replace(
    """SELECT d.doc_id,
       coalesce(comp.c, d.doc_id) AS canonical_id,
       d.doc_id <> coalesce(comp.c, d.doc_id) AS is_duplicate
FROM documents d LEFT JOIN comp ON d.doc_id = comp.node""",
    """, assign AS (
  SELECT coalesce(comp.c, d.doc_id) AS canonical_id
  FROM documents d LEFT JOIN comp ON d.doc_id = comp.node
), cl AS (
  SELECT canonical_id, count(*) AS cluster_size FROM assign
  GROUP BY canonical_id)
SELECT cluster_size, count(*) AS n_clusters,
       CAST(sum(cluster_size) AS BIGINT) AS n_docs
FROM cl GROUP BY cluster_size""",
)
assert "cl AS" in _CLUSTER_STATS_SQL  # surgery must have matched


@query("dedup_cluster_stats", _CLUSTER_STATS_SQL)
def q_dedup_cluster_stats(spark, sf_dir):
    """Cluster-size histogram of the near-dup canonical assignment —
    the dedup health-check; two tiny aggregates on top of the
    dedup_canonical plan."""
    from ffn_polars_spark.operators.dedup import (
        dedup_assign_canonical,
        dedup_cluster_stats,
        ngram_jaccard_pairs,
    )

    docs = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    return dedup_cluster_stats(dedup_assign_canonical(docs, pairs))


@query(
    "oov_rate",
    r"""
WITH tok AS (
  SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents),
t AS (SELECT source, token FROM tok WHERE token <> ''),
per AS (SELECT source, token, count(*) AS tf FROM t GROUP BY 1, 2),
gtf AS (SELECT token, sum(tf) AS gtf FROM per GROUP BY token),
vocab AS (SELECT token FROM gtf ORDER BY gtf DESC, token LIMIT 100)
SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.token IS NULL THEN tf ELSE 0 END) AS BIGINT) AS oov_tokens,
       floor((sum(CASE WHEN v.token IS NULL THEN tf ELSE 0 END) / CAST(sum(tf) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 AS oov_rate
FROM per LEFT JOIN vocab v USING (token) GROUP BY source""",
)
def q_oov_rate(spark, sf_dir):
    """Per-source OOV rate against the corpus top-100 vocabulary: one
    tokenize feeds both the per-source counts and the TakeOrdered
    vocabulary; the membership join broadcasts 100 rows."""
    from ffn_polars_spark.operators.text import oov_rate

    docs = read_table(spark, sf_dir, "documents")
    out = oov_rate(docs, vocab_size=100)
    return out.select(
        "source", "n_tokens", "oov_tokens", r6("oov_rate").alias("oov_rate")
    )


# Engine-portable 60-bit hash (low 15 hex chars of md5) — the SQL twin of
# dedup._hash64(col, "md5"). {s} is the string expression to hash.
def _H(s: str) -> str:
    return f"('0x' || substr(md5({s}), 18, 15))::BIGINT"


def _shingle_cte(n: int = 3) -> str:
    """documents → (doc_id, t tokens, shd distinct n-shingles) CTEs."""
    shingle = " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(n))
    return f"""WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(t) - {n - 2}), i -> {shingle})) AS shd
  FROM toks WHERE len(t) >= {n}
)"""


def _minhash_oracle_sql(
    threshold: float, num_hashes: int = 64, bands: int = 16, n: int = 3, seed: int = 42
) -> str:
    """Exact SQL twin of dedup_minhash_lsh(hash_fn='md5'): same shingles,
    same universal-hash permutations (coefficients from the same seeded
    generator), same md5-banding, same r6-rounded exact-Jaccard verify."""
    from ffn_polars_spark.operators.dedup import _MERSENNE, _minhash_coeffs

    coeffs = _minhash_coeffs(num_hashes, seed)
    rows = num_hashes // bands
    mh = ",\n         ".join(
        f"list_min(list_transform(h, x -> ({a}*x + {b}) % {_MERSENNE})) AS mh{k}"
        for k, (a, b) in enumerate(coeffs)
    )
    band_structs = ",\n      ".join(
        "{'band': %d, 'bh': %s}"
        % (
            b,
            _H(" || '|' || ".join(f"mh{b * rows + r}::VARCHAR" for r in range(rows))),
        )
        for b in range(bands)
    )
    # verify intersects the 64-bit shingle HASHES (h64), mirroring the
    # engine's longs-only pinned frame — value-identical to the string
    # intersect up to a 2^-64 collision, and exactly what the engine does
    jac = "len(list_intersect(a.h64, b.h64)) / CAST(len(a.h64) + len(b.h64) - len(list_intersect(a.h64, b.h64)) AS DOUBLE)"
    return (
        _shingle_cte(n)
        + f""", hs AS (
  SELECT doc_id, list_transform(shd, s -> {_H('s')}) AS h64,
         list_transform(shd, s -> {_H('s')} % {_MERSENNE}) AS h FROM sh
), sig AS (
  SELECT doc_id,
         {mh}
  FROM hs
), bands AS (
  SELECT doc_id, u.band AS band, u.bh AS bh FROM (
    SELECT doc_id, unnest([
      {band_structs}
    ]) AS u FROM sig)
), cands AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
)
SELECT id_a, id_b, {R(jac)} AS jaccard
FROM cands JOIN hs a ON cands.id_a = a.doc_id JOIN hs b ON cands.id_b = b.doc_id
WHERE {R(jac)} >= {threshold}"""
    )


def _simhash_oracle_sql(max_hamming: int, n: int = 3) -> str:
    """Exact SQL twin of dedup_simhash(hash_fn='md5'): majority-bit 64-bit
    fingerprint, 4x16-bit chunk banding, bit_count(xor) Hamming filter."""
    return (
        _shingle_cte(n)
        + f""", hs AS (
  SELECT doc_id, list_transform(shd, s -> {_H('s')}) AS h FROM sh
), sig AS (
  SELECT doc_id, CAST(list_sum(list_transform(range(0, 64), j ->
           CASE WHEN 2 * len(list_filter(h, x -> (x >> j) & 1 = 1)) > len(h)
                THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
  FROM hs
), chunks AS (
  SELECT doc_id, simhash, c AS chunk, (simhash >> (16 * c)) & 65535 AS val
  FROM sig, (SELECT unnest(range(0, 4)) AS c)
)
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
       CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
FROM chunks l JOIN chunks r
  ON l.chunk = r.chunk AND l.val = r.val AND l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}"""
    )


@query("dedup_minhash_lsh", _minhash_oracle_sql(threshold=0.5))
def q_dedup_minhash(spark, sf_dir):
    """MinHash-LSH candidates + exact-Jaccard verification, run with the
    engine-portable md5 base hash so the full pipeline (shingles →
    permutation minima → banding → candidate join → exact verify) is
    hash-checked against the independent SQL twin. The xxhash64 default
    differs only in the base-hash function; recall vs the exact pairs is
    additionally pinned in tests/test_dedup.py."""
    from ffn_polars_spark.operators.dedup import dedup_minhash_lsh

    docs = read_table(spark, sf_dir, "documents")
    return dedup_minhash_lsh(docs, threshold=0.5, hash_fn="md5")


@query("dedup_simhash", _simhash_oracle_sql(max_hamming=12))
def q_dedup_simhash(spark, sf_dir):
    """SimHash Hamming-ball pairs with the portable md5 base hash (exact
    SQL oracle; see q_dedup_minhash)."""
    from ffn_polars_spark.operators.dedup import dedup_simhash

    docs = read_table(spark, sf_dir, "documents")
    return dedup_simhash(docs, max_hamming=12, hash_fn="md5")


@query(
    "embedding_cosine_pairs",
    f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {R("list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))")} AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {R("list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))")} >= 0.9""",
)
def q_embedding_cosine_pairs(spark, sf_dir):
    from ffn_polars_spark.operators.similarity import embedding_cosine_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(emb, threshold=0.9)


@query(
    "ann_topk",
    f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, i.vec_id AS item_id,
         {R("list_cosine_similarity(CAST(i.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))")} AS cosine
  FROM embeddings i
  JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q ON i.vec_id <> q.vec_id)
SELECT query_id, item_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS INT) AS rank
FROM scored
QUALIFY rank <= 10""",
)
def q_ann_topk(spark, sf_dir):
    from ffn_polars_spark.operators.similarity import ann_topk

    emb = read_table(spark, sf_dir, "embeddings")
    return ann_topk(emb, emb.where(F.col("vec_id") < 5), k=10)


# The testdata embedding width — stable across every shipped scale factor
# (pinned by tests/test_similarity.py::test_catalog_embedding_dim). Both ANN
# oracles bake hyperplane/centroid literals of this width into their SQL.
_EMB_DIM = 64


def _vec_lit(v) -> str:
    """A python float vector as a DuckDB DOUBLE[] literal. repr() is the
    shortest round-trip rendering, so the engine parses back the exact
    same binary64 values numpy computed."""
    return "[" + ",".join(repr(float(x)) for x in v) + "]::DOUBLE[]"


def _ann_lsh_oracle_sql(k: int = 10, planes: int = 10, tables: int = 4, seed: int = 42) -> str:
    """Exact SQL twin of ann_topk_lsh: identical hyperplanes (same seeded
    generator, embedded as literals), sign-of-dot bucketing (normalization-
    invariant, so raw vectors bucket identically to the engine's unit
    vectors), candidate equi-join per table, cosine re-rank."""
    from ffn_polars_spark.operators.similarity import _hyperplanes

    def bucket(t: int) -> str:
        ps = _hyperplanes(_EMB_DIM, planes, seed + t)
        return " + ".join(
            f"(CASE WHEN list_dot_product(v, {_vec_lit(p)}) >= 0 THEN {1 << j} ELSE 0 END)"
            for j, p in enumerate(ps)
        )

    tbl_structs = ",\n      ".join(
        "{'tbl': %d, 'bkt': %s}" % (t, bucket(t)) for t in range(tables)
    )
    cos = "list_cosine_similarity(a.v, b.v)"
    return f"""WITH it AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), itb AS (
  SELECT vec_id, u.tbl AS tbl, u.bkt AS bkt FROM (
    SELECT vec_id, unnest([
      {tbl_structs}
    ]) AS u FROM it)
), cands AS (
  SELECT DISTINCT q.vec_id AS query_id, i.vec_id AS item_id
  FROM itb i JOIN itb q ON i.tbl = q.tbl AND i.bkt = q.bkt
  WHERE q.vec_id < 5 AND i.vec_id <> q.vec_id
), scored AS (
  SELECT query_id, item_id, {R(cos)} AS cosine
  FROM cands JOIN it a ON cands.item_id = a.vec_id JOIN it b ON cands.query_id = b.vec_id
)
SELECT query_id, item_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS INT) AS rank
FROM scored QUALIFY rank <= {k}"""


def _ivf_fixed_centroids(nlist: int = 16, seed: int = 7, dim: int = _EMB_DIM) -> list:
    """Seeded random unit centroids: a data-independent coarse quantizer so
    the engine and the SQL oracle assign identical cells."""
    import numpy as np

    rng = np.random.default_rng(seed)
    C = rng.standard_normal((nlist, dim))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    return C.tolist()


def _ann_ivf_oracle_sql(k: int = 10, nlist: int = 16, nprobe: int = 4) -> str:
    """Exact SQL twin of ann_topk_ivf with the fixed quantizer: items take
    their argmax-dot cell (scale-invariant → raw vectors), queries probe the
    ``nprobe`` best cells, candidates re-rank by exact cosine."""
    cents = _ivf_fixed_centroids(nlist)
    cell_structs = ",\n      ".join(
        "{'c': %d, 'sim': list_dot_product(v, %s)}" % (c, _vec_lit(cent))
        for c, cent in enumerate(cents)
    )
    cos = "list_cosine_similarity(a.v, b.v)"
    return f"""WITH it AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), ranked AS (
  SELECT vec_id, u.c AS cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY u.sim DESC, u.c ASC) AS rk
  FROM (
    SELECT vec_id, unnest([
      {cell_structs}
    ]) AS u FROM it)
), icell AS (
  SELECT vec_id, cell FROM ranked WHERE rk = 1
), qcell AS (
  SELECT vec_id, cell FROM ranked WHERE rk <= {nprobe} AND vec_id < 5
), cands AS (
  SELECT q.vec_id AS query_id, i.vec_id AS item_id
  FROM icell i JOIN qcell q ON i.cell = q.cell
  WHERE i.vec_id <> q.vec_id
), scored AS (
  SELECT query_id, item_id, {R(cos)} AS cosine
  FROM cands JOIN it a ON cands.item_id = a.vec_id JOIN it b ON cands.query_id = b.vec_id
)
SELECT query_id, item_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, item_id ASC) AS INT) AS rank
FROM scored QUALIFY rank <= {k}"""


@query("ann_topk_lsh", _ann_lsh_oracle_sql())
def q_ann_topk_lsh(spark, sf_dir):
    """LSH-bucketed ANN, hash-checked end to end against the SQL twin
    (identical seeded hyperplanes; bucket signs are normalization-invariant
    so both engines derive the same candidates). Recall vs exact top-k is
    additionally pinned in tests/test_similarity.py."""
    from ffn_polars_spark.operators.similarity import ann_topk_lsh

    emb = read_table(spark, sf_dir, "embeddings")
    return ann_topk_lsh(emb, emb.where(F.col("vec_id") < 5), k=10, dim=_EMB_DIM)


@query("ann_topk_ivf", _ann_ivf_oracle_sql())
def q_ann_topk_ivf(spark, sf_dir):
    """IVF ANN with a fixed seeded coarse quantizer (the pre-trained-
    quantizer mode), hash-checked against the SQL twin — verifies the whole
    search path: cell assignment, nprobe probing, candidate join, exact
    re-rank. The k-means-trained mode differs only in where the centroids
    come from; its recall is pinned in tests/test_similarity.py."""
    from ffn_polars_spark.operators.similarity import ann_topk_ivf

    emb = read_table(spark, sf_dir, "embeddings")
    return ann_topk_ivf(
        emb,
        emb.where(F.col("vec_id") < 5),
        k=10,
        nlist=16,
        nprobe=4,
        centroids=_ivf_fixed_centroids(16),
    )


# ---------------------------------------------------------------------------
# Text analysis.
# ---------------------------------------------------------------------------

TOKS_SQL = "string_split_regex(trim(lower(text)), '\\s+')"


@query(
    "text_token_count",
    f"""
SELECT doc_id, len({TOKS_SQL}) AS n_tokens, length(text) AS n_chars
FROM documents""",
)
def q_text_token_count(spark, sf_dir):
    from ffn_polars_spark.operators.text import char_count, token_count

    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        char_count(F.col("text")).alias("n_chars"),
    )


_SW = "'the','a','of','and','to','in','is','that','it','for'"


@query(
    "text_quality",
    f"""
WITH base AS (
  SELECT doc_id, text, {TOKS_SQL} AS toks,
         length(text) AS n_chars,
         len({TOKS_SQL}) AS n_tok,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
  FROM documents),
feat AS (
  SELECT doc_id, n_chars, n_tok,
         CASE WHEN n_tok > 0 THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(n_tok AS DOUBLE) ELSE 0.0 END AS mwl,
         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS pr,
         CASE WHEN n_tok > 0 THEN CAST(len(list_filter(toks, x -> x IN ({_SW}))) AS DOUBLE) / CAST(n_tok AS DOUBLE) ELSE 0.0 END AS sr
  FROM base)
SELECT doc_id, n_chars, n_tok AS n_tokens,
       {R("mwl")} AS mean_word_len,
       {R("pr")} AS punct_ratio,
       {R("sr")} AS stopword_ratio,
       {R(
        "(CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.25 ELSE 0.0 END) + "
        "(CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 0.25 ELSE 0.0 END) + "
        "(CASE WHEN pr <= 0.3 THEN 0.25 ELSE 0.0 END) + "
        "(CASE WHEN sr >= 0.05 THEN 0.25 ELSE 0.0 END)"
    )} AS quality_score
FROM feat""",
)
def q_text_quality(spark, sf_dir):
    from ffn_polars_spark.operators.text import text_quality

    docs = read_table(spark, sf_dir, "documents")
    return text_quality(docs)


_LANG_SQL_COUNTS = {
    "de": "'der','die','das','und','ist','nicht','ein','mit','auf'",
    "en": "'the','a','of','and','to','in','is','that','it','for'",
    "es": "'el','los','las','y','es','una','en','por','para'",
    "fr": "'le','la','les','et','est','une','dans','pour','que'",
}


@query(
    "language_id",
    f"""
WITH c AS (
  SELECT doc_id,
         len(list_filter({TOKS_SQL}, x -> x IN ({_LANG_SQL_COUNTS['de']}))) AS n_de,
         len(list_filter({TOKS_SQL}, x -> x IN ({_LANG_SQL_COUNTS['en']}))) AS n_en,
         len(list_filter({TOKS_SQL}, x -> x IN ({_LANG_SQL_COUNTS['es']}))) AS n_es,
         len(list_filter({TOKS_SQL}, x -> x IN ({_LANG_SQL_COUNTS['fr']}))) AS n_fr
  FROM documents)
SELECT doc_id,
       CASE WHEN n_fr > greatest(n_de, n_en, n_es) THEN 'fr'
            WHEN n_es > greatest(n_de, n_en) THEN 'es'
            WHEN n_en > n_de THEN 'en'
            ELSE 'de' END AS lang_pred,
       greatest(n_de, n_en, n_es, n_fr) AS marker_hits
FROM c""",
)
def q_language_id(spark, sf_dir):
    from ffn_polars_spark.operators.text import language_id

    docs = read_table(spark, sf_dir, "documents")
    return language_id(docs)


@query(
    "interval_join",
    TICKS_SQL
    + f""", hours AS (
  SELECT event_type, ts_ns - ts_ns % {_HOUR_NS} AS start_ns,
         ts_ns - ts_ns % {_HOUR_NS} + {_HOUR_NS} AS end_ns,
         count(*) AS n_ticks
  FROM ticks GROUP BY 1, 2, 3),
busy AS (SELECT * FROM hours WHERE n_ticks >= 5)
SELECT t.event_id, t.event_type, t.ts_ns, b.start_ns, b.end_ns, b.n_ticks
FROM ticks t JOIN busy b
  ON t.event_type = b.event_type
 AND t.ts_ns >= b.start_ns AND t.ts_ns < b.end_ns""",
)
def q_interval_join(spark, sf_dir):
    """Range join via time-bucket decomposition (operators/ranges.py):
    points = ticks, intervals = this tape's busy hours (>= 5 ticks). The
    oracle states the same join as a plain range predicate — DuckDB plans
    that natively; Spark would nested-loop it, hence the operator."""
    from ffn_polars_spark.operators.ranges import interval_join

    t = ticks(spark, sf_dir).select("event_id", "event_type", "ts_ns")
    hours = (
        t.groupBy(
            "event_type",
            (F.col("ts_ns") - F.col("ts_ns") % F.lit(_HOUR_NS)).alias("start_ns"),
        )
        .agg(F.count(F.lit(1)).alias("n_ticks"))
        .select(
            "event_type",
            "start_ns",
            (F.col("start_ns") + F.lit(_HOUR_NS)).alias("end_ns"),
            "n_ticks",
        )
        .where(F.col("n_ticks") >= 5)
    )
    return interval_join(
        t,
        hours,
        ts_col="ts_ns",
        start_col="start_ns",
        end_col="end_ns",
        by=["event_type"],
        bucket=_HOUR_NS,
    ).select("event_id", "event_type", "ts_ns", "start_ns", "end_ns", "n_ticks")


_WINNOW_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
# Per-step mod mirrors the engine's aggregate fold exactly (intermediates
# exceed the modulus, so mod placement changes values).
_WINNOW_H = (
    "((((((ascii(substr(n, i, 1)) % 2147483647) * 257"
    " + ascii(substr(n, i + 1, 1))) % 2147483647) * 257"
    " + ascii(substr(n, i + 2, 1))) % 2147483647) * 257"
    " + ascii(substr(n, i + 3, 1))) % 2147483647"
)


_WINNOW_CTE = f"""nn AS (
  SELECT doc_id, {_WINNOW_NORM} AS n FROM documents
  WHERE length({_WINNOW_NORM}) >= 7),
h AS (
  SELECT doc_id,
         list_transform(generate_series(1, length(n) - 3), i -> {_WINNOW_H}) AS hs
  FROM nn),
m AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(hs) - 3),
                       i -> list_min(list_slice(hs, i, i + 3)))) AS fps
  FROM h),
wfp AS (SELECT doc_id, unnest(fps) AS fp FROM m)"""


@query(
    "winnow_fingerprints",
    f"WITH {_WINNOW_CTE}\nSELECT doc_id, fp FROM wfp",
)
def q_winnow_fingerprints(spark, sf_dir):
    """Rolling-hash winnowing sketch (k=4 char-grams, window 4); the oracle
    replicates the polynomial hash arithmetic step for step, so the
    fingerprint sets match exactly."""
    from ffn_polars_spark.operators.text import winnow_fingerprints

    docs = read_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=4, window=4)


@query(
    "winnow_overlap_pairs",
    f"""
WITH {_WINNOW_CTE},
keep AS (SELECT fp FROM wfp GROUP BY fp HAVING count(*) <= 256),
w2 AS (SELECT wfp.doc_id, wfp.fp FROM wfp JOIN keep USING (fp)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM w2 a JOIN w2 b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2),
sizes AS (SELECT doc_id, count(*) AS sz FROM w2 GROUP BY doc_id)
SELECT id_a, id_b, shared,
       {R("shared / CAST(least(sa.sz, sb.sz) AS DOUBLE)")} AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b""",
)
def q_winnow_overlap_pairs(spark, sf_dir):
    """Sub-token near-dup candidates: inverted-index join on shared winnowing
    fingerprints, containment = shared / min(sketch sizes). The df <= 256
    hot-fingerprint cutoff is explicit in BOTH the operator call and the
    oracle's keep-CTE: the synthetic corpus's tiny vocabulary saturates the
    4-gram fingerprint space (fingerprints shared by 80% of all documents),
    so an uncapped self-join is quadratic in corpus size — the capped entry
    verifies the guard's semantics, not just the happy path."""
    from ffn_polars_spark.operators.text import winnow_overlap_pairs

    docs = read_table(spark, sf_dir, "documents")
    return winnow_overlap_pairs(docs, min_shared=2, max_fp_df=256)


@query(
    "deterministic_split",
    """
SELECT doc_id, bucket,
       CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
               % 10000 AS bucket
      FROM documents)""",
)
def q_deterministic_split(spark, sf_dir):
    """Hash-stable train/val/test assignment — md5-of-id buckets, portable
    across engines (oracle recomputes the identical bucket)."""
    from ffn_polars_spark.operators.pipeline import deterministic_split

    docs = read_table(spark, sf_dir, "documents")
    return deterministic_split(docs).select("doc_id", "bucket", "split")


_PII_URL = r"https?://[^\s]+"
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


@query(
    "pii_scrub",
    f"""
WITH s0 AS (SELECT doc_id, text AS t0 FROM documents),
s1 AS (SELECT doc_id, len(regexp_extract_all(t0, '{_PII_URL}')) AS n_url,
              regexp_replace(t0, '{_PII_URL}', '<URL>', 'g') AS t1 FROM s0),
s2 AS (SELECT doc_id, n_url,
              len(regexp_extract_all(t1, '{_PII_EMAIL}')) AS n_email,
              regexp_replace(t1, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t2 FROM s1),
s3 AS (SELECT doc_id, n_url, n_email,
              len(regexp_extract_all(t2, '{_PII_PHONE}')) AS n_phone,
              regexp_replace(t2, '{_PII_PHONE}', '<PHONE>', 'g') AS t3 FROM s2)
SELECT doc_id, t3 AS clean_text, n_url, n_email, n_phone,
       n_url + n_email + n_phone AS n_redactions
FROM s3""",
)
def q_pii_scrub(spark, sf_dir):
    """Sequential URL→email→phone redaction with per-pattern audit counts;
    the regex subset is Java/RE2-identical, so the oracle reproduces the
    scrubbed text byte for byte."""
    from ffn_polars_spark.operators.text import pii_scrub

    docs = read_table(spark, sf_dir, "documents")
    return pii_scrub(docs)


@query(
    "corpus_stats",
    f"""
WITH base AS (
  SELECT lang, source, CAST(len({TOKS_SQL}) AS DOUBLE) AS nt,
         length(text) AS nc
  FROM documents)
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS total_tokens,
       CAST(sum(nc) AS BIGINT) AS total_chars,
       {R("avg(nt)")} AS avg_tokens,
       {R("stddev_samp(nt)")} AS std_tokens,
       {R("quantile_cont(nt, 0.5)")} AS p50_tokens,
       {R("quantile_cont(nt, 0.95)")} AS p95_tokens
FROM base GROUP BY lang, source""",
)
def q_corpus_stats(spark, sf_dir):
    """Corpus composition report per (lang, source): counts, token moments,
    exact interpolated p50/p95 — one partial+final aggregate."""
    from ffn_polars_spark.operators.text import corpus_stats

    docs = read_table(spark, sf_dir, "documents")
    return corpus_stats(docs)


@query(
    "group_split",
    """
SELECT doc_id, source, bucket,
       CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, source,
             CAST('0x' || substr(md5(source), 1, 8) AS BIGINT) % 10000 AS bucket
      FROM documents)""",
)
def q_group_split(spark, sf_dir):
    """Leakage-safe split: hash the GROUP key (source), not the document, so
    all documents from one origin land in the same split — near-duplicates
    within a source can never straddle train/test."""
    from ffn_polars_spark.operators.pipeline import deterministic_split

    docs = read_table(spark, sf_dir, "documents")
    return deterministic_split(docs, id_col="source").select(
        "doc_id", "source", "bucket", "split"
    )


@query(
    "shard_by_tokens",
    f"""
WITH t AS (SELECT doc_id, len({TOKS_SQL}) AS n_tokens FROM documents)
SELECT doc_id, n_tokens,
       CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                   - n_tokens) / 2000.0) AS BIGINT) AS shard_id
FROM t""",
)
def q_shard_by_tokens(spark, sf_dir):
    """Token-budget corpus sharding via the blocked two-pass prefix sum (no
    single-partition global window)."""
    from ffn_polars_spark.operators.pipeline import shard_by_tokens

    docs = read_table(spark, sf_dir, "documents")
    return shard_by_tokens(docs, budget=2000)


_BUCKET_SQL = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000"
)


@query(
    "stratified_sample",
    f"""
SELECT doc_id, source, bucket, rate,
       bucket < CAST(floor(rate * 10000.0 + 0.5) AS BIGINT) AS keep
FROM (SELECT doc_id, source, {_BUCKET_SQL} AS bucket,
             CAST(CASE WHEN source = 'src0' THEN 0.5
                       WHEN source = 'src3' THEN 0.25
                       ELSE 1.0 END AS DOUBLE) AS rate
      FROM documents)""",
)
def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum downsampling: keep iff the portable md5
    bucket falls under round(rate*buckets). Zero shuffle; every doc appears
    with its auditable keep decision."""
    from ffn_polars_spark.operators.pipeline import stratified_sample

    docs = read_table(spark, sf_dir, "documents")
    return stratified_sample(docs, {"src0": 0.5, "src3": 0.25})


@query(
    "domain_mix",
    f"""
WITH b AS (SELECT doc_id, source, {_BUCKET_SQL} AS bucket FROM documents),
t AS (SELECT source, count(*) AS n_docs,
             CAST(CASE WHEN source = 'src0' THEN 0.4
                       WHEN source = 'src1' THEN 0.3
                       WHEN source = 'src2' THEN 0.2
                       WHEN source = 'src3' THEN 0.1
                       ELSE 0.0 END AS DOUBLE) AS target_w
      FROM documents GROUP BY source),
s AS (SELECT min(CAST(n_docs AS DOUBLE) / target_w) AS sc FROM t WHERE target_w > 0),
r AS (SELECT source, n_docs,
             CASE WHEN target_w > 0
                  THEN floor(least(sc * target_w / CAST(n_docs AS DOUBLE), 1.0)
                             * 1000000.0 + 0.5) / 1000000.0
                  ELSE 0.0 END AS rate
      FROM t CROSS JOIN s)
SELECT b.doc_id, b.source, b.bucket, r.n_docs, r.rate,
       b.bucket < CAST(floor(r.rate * 10000.0 + 0.5) AS BIGINT) AS keep
FROM b JOIN r ON b.source = r.source""",
)
def q_domain_mix(spark, sf_dir):
    """DoReMi-style target-mixture rebalancing (sampling-only): scale =
    min_d(n_d/t_d) keeps the scarcest-vs-target domain whole and downsamples
    the rest so expected kept counts are proportional to the targets. Tiny
    per-domain aggregate broadcast back; the corpus-wide pass is shuffle-free."""
    from ffn_polars_spark.operators.pipeline import domain_mix

    docs = read_table(spark, sf_dir, "documents")
    return domain_mix(
        docs, {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    )


@query(
    "pack_sequences",
    f"""
WITH t AS (SELECT doc_id, CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens FROM documents),
p AS (SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  - n_tokens AS BIGINT) AS strt
      FROM t WHERE n_tokens > 0),
x AS (SELECT doc_id, n_tokens, strt,
             unnest(generate_series(CAST(floor(strt / 512.0) AS BIGINT),
                                    CAST(floor((strt + n_tokens - 1) / 512.0) AS BIGINT)))
               AS seq_id
      FROM p)
SELECT doc_id, n_tokens, seq_id,
       greatest(seq_id * 512 - strt, 0) AS tok_start,
       least(n_tokens, (seq_id + 1) * 512 - strt) AS tok_end,
       greatest(strt - seq_id * 512, 0) AS seq_offset,
       least(n_tokens, (seq_id + 1) * 512 - strt)
         - greatest(seq_id * 512 - strt, 0) AS chunk_tokens
FROM x""",
)
def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-chunk packing manifest: documents laid end-to-end
    in id order, cut into 512-token sequences; one row per (doc, seq) chunk.
    Prefix sum is the blocked two-pass cumsum — no single-partition window."""
    from ffn_polars_spark.operators.pipeline import pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    return pack_sequences(docs, seq_len=512)


@query(
    "decontaminate",
    f"""
WITH {TRIGRAM_SQL},
hold AS (SELECT DISTINCT sh FROM shd JOIN documents USING (doc_id)
         WHERE source = 'src0'),
train AS (SELECT doc_id FROM documents WHERE source <> 'src0'),
hits AS (SELECT s.doc_id, count(*) AS n_hits
         FROM shd s JOIN hold USING (sh) JOIN train USING (doc_id)
         GROUP BY s.doc_id)
SELECT t.doc_id,
       CAST(coalesce(z.sz, 0) AS BIGINT) AS n_shingles,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(coalesce(h.n_hits / CAST(z.sz AS DOUBLE), 0.0), 6) AS contaminated_frac,
       coalesce(h.n_hits, 0) >= 1 AS contaminated
FROM train t
LEFT JOIN sizes z ON z.doc_id = t.doc_id
LEFT JOIN hits h ON h.doc_id = t.doc_id""",
)
def q_decontaminate(spark, sf_dir):
    """Test-set decontamination: training docs (source<>'src0') probed against
    the broadcast distinct-trigram set of the 'src0' holdout; per-doc hit
    counts, contaminated fraction, and flag."""
    from ffn_polars_spark.operators.dedup import decontaminate

    docs = read_table(spark, sf_dir, "documents")
    return decontaminate(
        docs.where(F.col("source") != "src0"), docs.where(F.col("source") == "src0")
    )


@query(
    "repetition_stats",
    f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w,
         generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS pos
  FROM documents),
d AS (SELECT doc_id, count(*) AS n_tokens, count(DISTINCT w) AS nd
      FROM tok GROUP BY doc_id),
big AS (SELECT doc_id, w || ' ' || lead(w, 1) OVER win AS sh
        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY lead(w, 1) OVER win IS NOT NULL),
tri AS (SELECT doc_id,
               w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win AS sh
        FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY lead(w, 2) OVER win IS NOT NULL),
bc AS (SELECT doc_id, sh, count(*) AS c FROM big GROUP BY doc_id, sh),
tc AS (SELECT doc_id, sh, count(*) AS c FROM tri GROUP BY doc_id, sh),
b2 AS (SELECT doc_id, sum(c) AS tot2, max(c) AS top2 FROM bc GROUP BY doc_id),
t3 AS (SELECT doc_id, sum(c) AS tot3, sum(CASE WHEN c > 1 THEN c END) AS dup3
       FROM tc GROUP BY doc_id)
SELECT d.doc_id, CAST(d.n_tokens AS BIGINT) AS n_tokens,
       {R("1.0 - nd / CAST(d.n_tokens AS DOUBLE)")} AS dup_word_frac,
       {R("coalesce(top2 / CAST(tot2 AS DOUBLE), 0.0)")} AS top_bigram_frac,
       {R("coalesce(dup3 / CAST(tot3 AS DOUBLE), 0.0)")} AS dup_trigram_frac
FROM d LEFT JOIN b2 USING (doc_id) LEFT JOIN t3 USING (doc_id)""",
)
def q_repetition_stats(spark, sf_dir):
    """Gopher-family intra-doc repetition filters: inverse TTR, top-bigram
    share, duplicated-trigram share. In-row gram construction, one gram-count
    aggregate, one per-doc fold."""
    from ffn_polars_spark.operators.text import repetition_stats

    docs = read_table(spark, sf_dir, "documents")
    return repetition_stats(docs)


@query(
    "clean_corpus",
    f"""
WITH base AS (
  SELECT doc_id, text, {TOKS_SQL} AS toks,
         length(text) AS n_chars,
         len({TOKS_SQL}) AS n_tok,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
  FROM documents),
feat AS (
  SELECT doc_id, n_chars, n_tok,
         CASE WHEN n_tok > 0 THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(n_tok AS DOUBLE) ELSE 0.0 END AS mwl,
         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) ELSE 0.0 END AS pr,
         CASE WHEN n_tok > 0 THEN CAST(len(list_filter(toks, x -> x IN ({_SW}))) AS DOUBLE) / CAST(n_tok AS DOUBLE) ELSE 0.0 END AS sr
  FROM base),
q AS (
  SELECT doc_id,
         {R(
        "(CASE WHEN n_tok >= 5 AND n_tok <= 100000 THEN 0.25 ELSE 0.0 END) + "
        "(CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 0.25 ELSE 0.0 END) + "
        "(CASE WHEN pr <= 0.3 THEN 0.25 ELSE 0.0 END) + "
        "(CASE WHEN sr >= 0.05 THEN 0.25 ELSE 0.0 END)"
    )} AS quality_score
  FROM feat),
lc AS (
  SELECT doc_id,
         len(list_filter({TOKS_SQL}, x -> x IN ({_LANG_SQL_COUNTS['de']}))) AS n_de,
         len(list_filter({TOKS_SQL}, x -> x IN ({_LANG_SQL_COUNTS['en']}))) AS n_en,
         len(list_filter({TOKS_SQL}, x -> x IN ({_LANG_SQL_COUNTS['es']}))) AS n_es,
         len(list_filter({TOKS_SQL}, x -> x IN ({_LANG_SQL_COUNTS['fr']}))) AS n_fr
  FROM documents),
l AS (
  SELECT doc_id,
         CASE WHEN n_fr > greatest(n_de, n_en, n_es) THEN 'fr'
              WHEN n_es > greatest(n_de, n_en) THEN 'es'
              WHEN n_en > n_de THEN 'en'
              ELSE 'de' END AS lang_pred
  FROM lc),
fp AS (SELECT doc_id, md5({NORM_SQL}) AS fp FROM documents),
g AS (SELECT fp, min(doc_id) AS canonical_id FROM fp GROUP BY fp)
SELECT q.doc_id, l.lang_pred, q.quality_score, g.canonical_id,
       q.doc_id <> g.canonical_id AS is_duplicate,
       (l.lang_pred IN ('en') AND q.quality_score >= 0.5
        AND q.doc_id = g.canonical_id) AS keep
FROM q
JOIN l ON q.doc_id = l.doc_id
JOIN fp ON q.doc_id = fp.doc_id
JOIN g ON fp.fp = g.fp""",
)
def q_clean_corpus(spark, sf_dir):
    from ffn_polars_spark.operators.pipeline import clean_corpus

    docs = read_table(spark, sf_dir, "documents")
    return clean_corpus(docs, languages=("en",), min_quality=0.5)


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary columns + Arrow-batch feature extraction).
# ---------------------------------------------------------------------------


@query(
    "multimodal_metadata",
    """
SELECT doc_id, 'image' AS media_type, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents""",
)
def q_multimodal_metadata(spark, sf_dir):
    from ffn_polars_spark.operators.multimodal import attach_media_metadata, text_as_binary

    docs = read_table(spark, sf_dir, "documents")
    out = attach_media_metadata(text_as_binary(docs))
    return out.select(
        "doc_id",
        F.col("media_meta.media_type").alias("media_type"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.sha256").alias("sha256"),
    )


@query(
    "multimodal_frame_sample",
    """
WITH b AS (
  SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
f AS (
  SELECT doc_id,
         unnest(generate_series(0, least(8, CAST(floor(n / 1024.0) AS INT) + 1) - 1)) AS frame_idx
  FROM b)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(frame_idx * 1024 AS BIGINT) AS byte_offset
FROM f""",
)
def q_multimodal_frame_sample(spark, sf_dir):
    from ffn_polars_spark.operators.multimodal import sample_frames, text_as_binary

    docs = read_table(spark, sf_dir, "documents")
    out = sample_frames(text_as_binary(docs), every_n_bytes=1024, max_frames=8)
    return out.select(
        "doc_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("byte_offset").cast("long").alias("byte_offset"),
    )


@query(
    "multimodal_features",
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256,
       CAST(16 + octet_length(encode(text)) % 64 AS INT) AS width,
       CAST(16 + ascii(substr(text, 1, 1)) % 64 AS INT) AS height,
       CAST(3 AS INT) AS channels,
       CAST((octet_length(encode(text)) * 31 + ascii(substr(text, 1, 1))) % 256 AS DOUBLE) AS mean_intensity
FROM documents""",
)
def q_multimodal_features(spark, sf_dir):
    from ffn_polars_spark.operators.multimodal import extract_image_features, text_as_binary

    docs = read_table(spark, sf_dir, "documents")
    return extract_image_features(text_as_binary(docs), fake=True)


# ---------------------------------------------------------------------------
# Simulator (§2.10) — seeded-random synthetic tape, so rows-only checks;
# schema + statistical invariants are pinned in tests/test_sim.py.
# ---------------------------------------------------------------------------


def _sim_oracle_sql(
    n_quotes: int = 5_000, n_trades: int = 1_000, seed: int = 42
) -> str:
    """DuckDB replay of one simulated session (hash_fn="md5" mode).

    Every random draw in sim/rand.py's md5 mode is a pure function of
    (id, tag, seed) via the portable 60-bit md5 uniform, so the whole
    quote-walk -> trade-sample -> per-tape aggregate pipeline is
    re-derivable in SQL from the same literals: trading window, burst
    windows, CDF ladders and the span coefficient are embedded below with
    ``repr`` so both engines compare the identical binary64 values.

    Platform assumption: the md5 uniforms are bit-exact by construction, but
    the *derived* quantities route through ``log``/``cos``/``sqrt``, which
    are only ~1-ulp-accurate (not correctly rounded) in both the JVM and
    DuckDB's libm, and ``blocked_cumsum``'s float association must match the
    oracle's sequential window sum.  The final ``round(x, 2)`` absorbs ulp
    noise *except* exactly at a rounding boundary, so hash-exactness holds on
    this host's JVM/libm pairing but could flip a cent on another platform —
    a tolerance-aware comparison would be the portable alternative."""
    from ffn_polars_spark.sim.common import (
        EXCHANGE_IDS,
        EXCHANGE_WEIGHTS,
        get_trading_window_ns,
    )
    from ffn_polars_spark.sim.events import day_burst_windows
    from ffn_polars_spark.sim.rand import choice_cdf, poisson_cdf

    start_ns, end_ns = get_trading_window_ns(0)
    span_c = (end_ns - start_ns) / max(n_quotes - 1, 1)
    bursts = day_burst_windows(start_ns, end_ns, 0, seed)

    def u(idc: str, tag: str) -> str:
        return (
            f"(('0x' || substr(md5(CAST({idc} AS VARCHAR) || ':{tag}:{seed}'), 18, 15))"
            f"::BIGINT / 1152921504606846976.0)"
        )

    def z(idc: str, tag: str) -> str:
        return (
            f"(sqrt(-2.0 * ln(greatest({u(idc, tag + '.u1')}, 1e-15))) "
            f"* cos({repr(2.0 * 3.141592653589793)} * {u(idc, tag + '.u2')}))"
        )

    def ladder(uexpr: str, cdf, values) -> str:
        whens = " ".join(
            f"WHEN {uexpr} < {repr(float(cdf[k]))} THEN {values[k]}"
            for k in range(len(cdf) - 1)
        )
        return f"(CASE {whens} ELSE {values[-1]} END)"

    burst = lambda ts: (  # noqa: E731
        "(" + " OR ".join(f"({ts} >= {s} AND {ts} < {e})" for s, e in bursts) + ")"
        if bursts
        else "FALSE"
    )
    pois2 = poisson_cdf(2.0, 16)
    ex_cdf = choice_cdf(EXCHANGE_WEIGHTS)

    return f"""WITH qbase AS (
  SELECT r.range AS id,
         {start_ns} + CAST(floor(r.range * {repr(span_c)}) AS BIGINT) AS pts
  FROM range({n_quotes}) r),
qstep AS (
  SELECT id, pts,
         {z('id', 'px')} * (CASE WHEN {burst('pts')} THEN 0.03 ELSE 0.01 END) AS step,
         abs({z('id', 'spread')} * {repr(0.02 / 3)} + 0.02)
           * (CASE WHEN {burst('pts')} THEN 1.5 ELSE 1.0 END) AS spread,
         greatest({ladder(u('id', 'asz'), pois2, list(range(16)))}, 1) AS ask_size,
         greatest({ladder(u('id', 'bsz'), pois2, list(range(16)))}, 1) AS bid_size,
         {ladder(u('id', 'aex'), ex_cdf, EXCHANGE_IDS)} AS ask_exchange,
         {ladder(u('id', 'bex'), ex_cdf, EXCHANGE_IDS)} AS bid_exchange
  FROM qbase),
q AS (
  SELECT id, pts, ask_size, bid_size, ask_exchange, bid_exchange,
         round(sum(step) OVER (ORDER BY id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 276.0, 2) AS bid_price,
         round(round(sum(step) OVER (ORDER BY id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 276.0, 2) + spread, 2) AS ask_price
  FROM qstep),
tdraw AS (
  SELECT r.range AS tid,
         CAST(floor({u('r.range', 'pick')} * {float(n_quotes)}) AS BIGINT) AS qidx,
         CASE WHEN {u('r.range', 'dir')} < 0.5 THEN -1 ELSE 1 END AS dir
  FROM range({n_trades}) r),
t AS (
  SELECT tid, dir, q.pts, q.ask_price, q.bid_price, q.ask_size, q.bid_size,
         CASE WHEN dir = 1 THEN q.ask_exchange ELSE q.bid_exchange END AS exchange
  FROM tdraw JOIN q ON tdraw.qidx = q.id),
tr AS (
  SELECT tid,
         round(CASE WHEN dir = 1 THEN ask_price ELSE bid_price END, 2) AS price,
         CAST(least(greatest(
             CAST(CASE WHEN dir = 1 THEN ask_size ELSE bid_size END AS DOUBLE)
             * (CASE WHEN {burst('pts')} THEN 2.0 ELSE 1.0 END), 1.0), 10.0) * 100 AS BIGINT) AS size,
         CASE WHEN exchange IN (10, 11, 1) THEN 1
              WHEN exchange IN (12, 2) THEN 3
              WHEN exchange IN (201, 202)
                THEN CAST(CAST(floor({u('tid', 'tape')} * 3.0) AS BIGINT) + 1 AS INT)
              ELSE 2 END AS tape
  FROM t)
SELECT tape, count(*) AS n_trades, CAST(sum(size) AS BIGINT) AS shares,
       {R("sum(price * size) / CAST(sum(size) AS DOUBLE)")} AS price_vwap
FROM tr GROUP BY tape"""


@query("sim_market_day", _sim_oracle_sql())
def q_sim_market_day(spark, sf_dir):
    """One simulated session (quotes+trades), summarized per tape.

    Runs the simulator in its engine-portable md5 hash-stream mode
    (sim/rand.py) so the DuckDB oracle replays the ENTIRE session —
    timestamp grid, burst windows, Box-Muller price walk, Poisson sizes,
    SIP-weighted exchange draws, trade sampling, tape assignment — draw for
    draw, and the per-tape aggregate hash-matches.  The library default
    stays the faster xxhash64 stream (statistical parity, unit-test-pinned);
    ``simulate_quotes_exact`` separately pins bit-exact numpy parity."""
    from ffn_polars_spark.sim import simulate_market

    quotes, trades = simulate_market(
        spark, "SIM", days=1, quote_ticks_per_day=5_000,
        trade_volume_per_day=100_000, sort=False, hash_fn="md5",
    )
    return trades.groupBy("tape").agg(
        F.count(F.lit(1)).alias("n_trades"),
        F.sum("size").alias("shares"),
        r6(ffn.tick.calc_vwap("price", F.col("size").cast("double"))).alias(
            "price_vwap"
        ),
    )


# ---------------------------------------------------------------------------
# Structured Streaming (streaming/) — a real file-source stream over the
# events table, drained with an available-now trigger.  Round 5: the drained
# results are deterministic (the batch-equality tests in
# tests/test_streaming.py prove stream == batch, and the batch side is plain
# SQL), so both entries now carry hash-exact DuckDB oracles over the same
# source tables.
# ---------------------------------------------------------------------------


def _stage_stream_dir(sf_dir: str, table: str, prefix: str) -> str:
    """The file stream source requires a DIRECTORY; stage the single parquet
    file behind a symlink dir (no data copy).

    The stage name hashes the FULL source path: two different roots that
    share an sf basename (e.g. canonical vs generated sf0.01) must not
    collide on one stale symlink."""
    import hashlib
    import os

    src = os.path.join(os.path.normpath(sf_dir), f"{table}.parquet")
    key = hashlib.md5(src.encode()).hexdigest()[:10]
    stage = os.path.join(
        "/tmp", f"{prefix}_{os.path.basename(os.path.normpath(sf_dir))}_{key}"
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return stage


@query(
    "streaming_time_bars",
    TICKS_SQL
    + f""", bars AS (
  SELECT event_type,
         CAST((ts_ns - ts_ns % {_HOUR_NS}) // 1000000000 AS BIGINT) AS bar_start_s,
         arg_min(price, ts_ns) AS open, max(price) AS high,
         min(price) AS low, arg_max(price, ts_ns) AS close,
         count(*) AS n_ticks
  FROM ticks GROUP BY event_type, ts_ns - ts_ns % {_HOUR_NS})
SELECT event_type, bar_start_s, bar_start_s + 3600 AS bar_end_s,
       open, high, low, close, n_ticks
FROM bars""",
)
def q_streaming_time_bars(spark, sf_dir):
    """Watermarked 1-hour OHLCV bars computed by a real streaming query and
    drained complete-mode — hash-checked against the batch SQL bars (tumbling
    windows align to epoch hours, so both engines bucket identically; bar
    bounds compare as epoch seconds to stay timezone-free)."""
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        streaming_time_bars,
    )

    stage = _stage_stream_dir(sf_dir, "events", "ffn_stream")
    stream = read_tick_stream(spark, stage, ts_col="ts").withColumn(
        "price", F.lit(100.0) + F.col("value") / F.lit(10.0)
    )
    bars = streaming_time_bars(
        stream, "price", by=["event_type"], bar="1 hour", delay_threshold="1 minute"
    )
    drained = run_available_now(bars)
    return drained.select(
        "event_type",
        F.unix_timestamp("bar_start").alias("bar_start_s"),
        F.unix_timestamp("bar_end").alias("bar_end_s"),
        "open",
        "high",
        "low",
        "close",
        "n_ticks",
    )


# Documents get a synthetic but *valid* event time: 2024-01-01 + doc_id
# seconds.  (Using raw doc_id nanoseconds put every event at epoch 0 — equal
# to the stream's initial watermark, so dropDuplicatesWithinWatermark
# classified ALL rows as late and emitted nothing; caught when this entry
# gained an oracle in round 5.)
_DOC_STREAM_EPOCH = 1_704_067_200  # 2024-01-01 UTC


@query(
    "streaming_dedup_exact",
    f"SELECT DISTINCT md5({NORM_SQL}) AS fingerprint FROM documents",
)
def q_streaming_dedup(spark, sf_dir):
    """First-seen exact dedup over a document stream
    (dropDuplicatesWithinWatermark), drained append-mode.  The surviving
    *fingerprint set* is deterministic regardless of which duplicate arrives
    first, so the oracle is the batch DISTINCT over the same normalization —
    hash-exact."""
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        streaming_dedup_exact,
    )

    stage = _stage_stream_dir(sf_dir, "documents", "ffn_docstream")
    docs = spark.read.parquet(stage)
    stream = read_tick_stream(
        spark, stage, schema=docs.schema, ts_col="doc_id"
    ).withColumn(
        "event_time",
        F.timestamp_seconds(F.col("doc_id") + F.lit(_DOC_STREAM_EPOCH)),
    )
    out = streaming_dedup_exact(stream, delay_threshold="1 hour")
    return run_available_now(out, output_mode="append").select("fingerprint")


@query(
    "streaming_vwap",
    TICKS_SQL
    + f""", bars AS (
  SELECT event_type,
         CAST((ts_ns - ts_ns % {_HOUR_NS}) // 1000000000 AS BIGINT) AS bar_start_s,
         {R("sum(price * volume) / CAST(sum(volume) AS DOUBLE)")} AS price_vwap,
         count(*) AS n_ticks
  FROM ticks GROUP BY event_type, ts_ns - ts_ns % {_HOUR_NS})
SELECT event_type, bar_start_s, price_vwap, n_ticks FROM bars""",
)
def q_streaming_vwap(spark, sf_dir):
    """Watermarked per-hour VWAP computed by a streaming query, drained
    complete-mode and hash-checked against the batch SQL buckets."""
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        streaming_vwap,
    )

    stage = _stage_stream_dir(sf_dir, "events", "ffn_stream")
    stream = (
        read_tick_stream(spark, stage, ts_col="ts")
        .withColumn("price", F.lit(100.0) + F.col("value") / F.lit(10.0))
        .withColumn(
            "volume", ((F.col("event_id") % 100) + 1).cast("double")
        )
    )
    out = streaming_vwap(
        stream, "price", "volume", by=["event_type"], bar="1 hour",
        delay_threshold="1 minute",
    )
    drained = run_available_now(out)
    return drained.select(
        "event_type",
        F.unix_timestamp("bar_start").alias("bar_start_s"),
        r6(F.col("price_vwap")).alias("price_vwap"),
        "n_ticks",
    )


@query(
    "streaming_histogram",
    TICKS_SQL
    + f"""
SELECT CAST((ts_ns - ts_ns % {_HOUR_NS}) // 1000000000 AS BIGINT) AS bar_start_s,
       least(24, greatest(0, CAST(floor((price - 100.0) / 2.0) AS INT))) AS bin,
       100.0 + least(24, greatest(0, CAST(floor((price - 100.0) / 2.0) AS INT))) * 2.0
         AS bin_lo,
       count(*) AS n
FROM ticks
GROUP BY 1, 2""",
)
def q_streaming_histogram(spark, sf_dir):
    """Watermarked per-hour price histogram computed by a streaming query
    (streaming twin of value_histogram), drained complete-mode and
    hash-checked against batch SQL buckets — per-window state is capped at
    nbins rows."""
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        streaming_histogram,
    )

    stage = _stage_stream_dir(sf_dir, "events", "ffn_stream")
    stream = read_tick_stream(spark, stage, ts_col="ts").withColumn(
        "price", F.lit(100.0) + F.col("value") / F.lit(10.0)
    )
    out = streaming_histogram(
        stream, "price", lo=100.0, hi=150.0, nbins=25, bar="1 hour",
        delay_threshold="1 minute",
    )
    drained = run_available_now(out)
    return drained.select(
        F.unix_timestamp("bar_start").alias("bar_start_s"), "bin", "bin_lo", "n"
    )


@query(
    "streaming_interval_join",
    TICKS_SQL
    + f"""
SELECT p.event_id, p.user_id, p.ts_ns AS p_ts_ns, c.ts_ns AS c_ts_ns,
       {R("c.price")} AS click_price
FROM (SELECT * FROM ticks WHERE event_type = 'purchase') p
JOIN (SELECT * FROM ticks WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.ts_ns BETWEEN p.ts_ns - {_HOUR_NS} AND p.ts_ns""",
)
def q_streaming_interval_join(spark, sf_dir):
    """Stream-stream interval join (purchases x clicks within the preceding
    hour, per user), both sides watermarked so buffered state expires with
    the lookback window; drained append-mode and hash-checked against the
    batch range-join SQL."""
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        streaming_interval_join,
    )

    stage = _stage_stream_dir(sf_dir, "events", "ffn_stream")
    purch = (
        read_tick_stream(spark, stage, ts_col="ts")
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("event_time").alias("p_time"))
    )
    clicks = (
        read_tick_stream(spark, stage, ts_col="ts")
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_time").alias("c_time"),
            (F.lit(100.0) + F.col("value") / F.lit(10.0)).alias("__price"),
        )
    )
    out = streaming_interval_join(
        purch, clicks, "user_id", "c_user", "p_time", "c_time", lookback="1 hour"
    )
    drained = run_available_now(out, output_mode="append")
    return drained.select(
        "event_id",
        "user_id",
        (F.unix_micros("p_time") * F.lit(1000)).alias("p_ts_ns"),
        (F.unix_micros("c_time") * F.lit(1000)).alias("c_ts_ns"),
        r6(F.col("__price")).alias("click_price"),
    )


@query(
    "streaming_preagg_interval_join",
    TICKS_SQL
    + f""", wm AS (
  SELECT least(
           (SELECT max(ts_ns) FROM ticks WHERE event_type = 'purchase'),
           (SELECT max(ts_ns) FROM ticks WHERE event_type = 'click')
         ) - 60000000000 AS wm_ns),
pb AS (
  SELECT user_id % 10 AS ubkt,
         (ts_ns - ts_ns % {_HOUR_NS}) AS bar_ns,
         count(*) AS n_purch, sum(price) AS buy_flow
  FROM ticks WHERE event_type = 'purchase' GROUP BY 1, 2),
cb AS (
  SELECT user_id % 10 AS ubkt,
         (ts_ns - ts_ns % {_HOUR_NS}) AS bar_ns,
         count(*) AS n_clicks, sum(price) AS click_flow
  FROM ticks WHERE event_type = 'click' GROUP BY 1, 2)
SELECT p.ubkt, CAST(p.bar_ns // 1000000000 AS BIGINT) AS l_bar_start_s,
       p.n_purch, {R("p.buy_flow")} AS buy_flow,
       CAST(c.bar_ns // 1000000000 AS BIGINT) AS r_bar_start_s,
       c.n_clicks, {R("c.click_flow")} AS click_flow
FROM pb p JOIN cb c
  ON p.ubkt = c.ubkt
 AND c.bar_ns + {_HOUR_NS} BETWEEN p.bar_ns + {_HOUR_NS} - {2 * _HOUR_NS}
                               AND p.bar_ns + {_HOUR_NS}
WHERE p.bar_ns + {_HOUR_NS} <= (SELECT wm_ns FROM wm)
  AND c.bar_ns + {_HOUR_NS} <= (SELECT wm_ns FROM wm)""",
)
def q_streaming_preagg_interval_join(spark, sf_dir):
    """Pre-aggregated stream-stream interval join (chained stateful
    operators: windowed agg per side -> bar-level join) — the measured
    state mitigation for [[streaming_interval_join]] (15.8x its tick-tick
    throughput at full offered rate in tools/stream_bench). Purchase-flow
    bars join click-flow bars of the same user bucket within a 2-hour
    lookback. Drained append-mode; the oracle replays the bars, the
    interval condition on bar ends, AND the append-mode finalization
    cutoff (global watermark = min of the two sides' max event time,
    minus the 1-minute delay — bars still open at end of input never
    emit, exactly as on a live stream)."""
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        streaming_preagg_interval_join,
    )

    stage = _stage_stream_dir(sf_dir, "events", "ffn_stream")
    price = F.lit(100.0) + F.col("value") / F.lit(10.0)
    purch = (
        read_tick_stream(spark, stage, ts_col="ts")
        .where(F.col("event_type") == "purchase")
        .select((F.col("user_id") % 10).alias("ubkt"), "event_time",
                price.alias("__price"))
    )
    clicks = (
        read_tick_stream(spark, stage, ts_col="ts")
        .where(F.col("event_type") == "click")
        .select((F.col("user_id") % 10).alias("cbkt"), "event_time",
                price.alias("__price"))
    )
    out = streaming_preagg_interval_join(
        purch, clicks, "ubkt", "cbkt",
        left_aggs={"n_purch": F.count(F.lit(1)), "__bf": F.sum("__price")},
        right_aggs={"n_clicks": F.count(F.lit(1)), "__cf": F.sum("__price")},
        bar="1 hour", lookback="2 hours", delay_threshold="1 minute",
    )
    drained = run_available_now(out, output_mode="append")
    return drained.select(
        "ubkt",
        F.unix_timestamp("l_bar_start").alias("l_bar_start_s"),
        "n_purch",
        r6(F.col("__bf")).alias("buy_flow"),
        F.unix_timestamp("r_bar_start").alias("r_bar_start_s"),
        "n_clicks",
        r6(F.col("__cf")).alias("click_flow"),
    )


@query(
    "streaming_session_stats",
    """
WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
b AS (
  SELECT user_id, ts_us,
         CASE WHEN lag(ts_us) OVER w IS NULL
                   OR ts_us - lag(ts_us) OVER w >= 3600000000 THEN 1 ELSE 0 END AS boundary
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
s AS (
  SELECT user_id, ts_us,
         sum(boundary) OVER (PARTITION BY user_id ORDER BY ts_us
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM b)
SELECT user_id,
       CAST(min(ts_us) AS BIGINT) AS session_start_us,
       CAST(max(ts_us) + 3600000000 AS BIGINT) AS session_end_us,
       count(*) AS n_events
FROM s GROUP BY user_id, sid""",
)
def q_streaming_session_stats(spark, sf_dir):
    """Gap-based sessions via F.session_window in a real streaming query
    (1-hour inactivity gap), drained complete-mode.  Session bounds follow
    the session_window contract — [first event, last event + gap), an
    EXCLUSIVE end, so an event landing exactly `gap` after the previous one
    opens a new session — which the lag/cumsum batch SQL reproduces with a
    `>= gap` boundary test; bounds compare as epoch microseconds."""
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        streaming_session_stats,
    )

    stage = _stage_stream_dir(sf_dir, "events", "ffn_stream")
    stream = read_tick_stream(spark, stage, ts_col="ts")
    out = streaming_session_stats(
        stream, "user_id", gap="1 hour", delay_threshold="1 minute"
    )
    drained = run_available_now(out)
    return drained.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )


@query(
    "streaming_running_vwap",
    TICKS_SQL
    + f"""
SELECT event_type, CAST(sum(volume) AS DOUBLE) AS cum_volume,
       {R("sum(price * volume) / CAST(sum(volume) AS DOUBLE)")} AS running_vwap
FROM ticks GROUP BY event_type""",
)
def q_streaming_running_vwap(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): lifetime per-key
    VWAP state updated each micro-batch.  Drained with the available-now
    trigger the final update per key equals the batch aggregate, which is
    the SQL twin — so even the Arrow-stateful path is hash-verified."""
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        stateful_running_vwap,
    )

    stage = _stage_stream_dir(sf_dir, "events", "ffn_stream")
    stream = (
        read_tick_stream(spark, stage, ts_col="ts")
        .withColumn("price", F.lit(100.0) + F.col("value") / F.lit(10.0))
        .withColumn("volume", ((F.col("event_id") % 100) + 1).cast("double"))
    )
    out = stateful_running_vwap(stream, "event_type", "price", "volume")
    drained = run_available_now(out, output_mode="update")
    return drained.select(
        "event_type",
        "cum_volume",
        r6(F.col("running_vwap")).alias("running_vwap"),
    )


@query(
    "streaming_realized_vol",
    TICKS_SQL
    + f""", r AS (
  SELECT event_type,
         ln(price) - lag(ln(price)) OVER (PARTITION BY event_type ORDER BY ts_ns) AS r
  FROM ticks)
SELECT event_type, CAST(count(r) AS BIGINT) AS n_returns,
       {R("sqrt(sum(r * r))")} AS realized_volatility
FROM r GROUP BY event_type""",
)
def q_streaming_realized_vol(spark, sf_dir):
    """Sequence-dependent stateful streaming operator
    (applyInPandasWithState): running realized volatility whose state chains
    the last observation across micro-batches.  The available-now drain's
    final update equals the batch lag-window computation — hash-checked."""
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        stateful_realized_volatility,
    )

    stage = _stage_stream_dir(sf_dir, "events", "ffn_stream")
    stream = (
        read_tick_stream(spark, stage, ts_col="ts")
        .withColumn("price", F.lit(100.0) + F.col("value") / F.lit(10.0))
        # epoch-ns long from the µs event_time — same derivation as the
        # oracle's epoch_us(ts) * 1000
        .withColumn("ts_ns", F.unix_micros(F.col("event_time")) * F.lit(1000))
    )
    out = stateful_realized_volatility(stream, "event_type", "ts_ns", "price")
    drained = run_available_now(out, output_mode="update")
    return drained.select(
        "event_type",
        "n_returns",
        r6(F.col("realized_volatility")).alias("realized_volatility"),
    )


_ZPRIOR = (
    "PARTITION BY event_type ORDER BY ts_ns "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
)


@query(
    "streaming_zscore_alerts",
    TICKS_SQL
    + f""", s AS (
  SELECT event_type, price,
         count(price) OVER ({_ZPRIOR}) AS np,
         sum(price) OVER ({_ZPRIOR}) AS ps,
         sum(price * price) OVER ({_ZPRIOR}) AS pq
  FROM ticks)
SELECT event_type, count(*) AS n_events,
       CAST(sum(CASE WHEN np >= 30
                      AND (pq - ps * ps / np) / (np - 1) > 0
                      AND abs(price - ps / np)
                          > 1.5 * sqrt((pq - ps * ps / np) / (np - 1))
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_alerts
FROM s GROUP BY event_type""",
)
def q_streaming_zscore_alerts(spark, sf_dir):
    """Stateful streaming anomaly counter (applyInPandasWithState): each
    tick scored against the cumulative prior distribution of its key
    (|x − mean| > 1.5·std after 30 obs), alert count chained across
    micro-batches.  The drain's final update per key equals the batch
    cumulative-window SQL twin — prior sums written naively on both
    sides so the float sequences match."""
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        stateful_zscore_alerts,
    )

    stage = _stage_stream_dir(sf_dir, "events", "ffn_stream")
    stream = (
        read_tick_stream(spark, stage, ts_col="ts")
        .withColumn("price", F.lit(100.0) + F.col("value") / F.lit(10.0))
        .withColumn("ts_ns", F.unix_micros(F.col("event_time")) * F.lit(1000))
    )
    out = stateful_zscore_alerts(
        stream, "event_type", "ts_ns", "price", threshold=1.5, min_obs=30
    )
    drained = run_available_now(out, output_mode="update")
    return drained.select("event_type", "n_events", "n_alerts")


# ---------------------------------------------------------------------------
# Sessionization.
# ---------------------------------------------------------------------------


@query(
    "session_stats",
    """
WITH e AS (SELECT user_id, epoch_us(ts) * 1000 AS ts_ns FROM events),
b AS (
  SELECT user_id, ts_ns,
         CASE WHEN lag(ts_ns) OVER w IS NULL
                   OR ts_ns - lag(ts_ns) OVER w > 3600000000000 THEN 1 ELSE 0 END AS boundary
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns)),
s AS (
  SELECT user_id, ts_ns,
         CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts_ns
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
  FROM b)
SELECT user_id, session_id, count(*) AS n_events,
       max(ts_ns) - min(ts_ns) AS duration
FROM s GROUP BY user_id, session_id""",
)
def q_session_stats(spark, sf_dir):
    from ffn_polars_spark.operators.sessions import session_stats

    ev = read_table(spark, sf_dir, "events")
    ev = ev.select("user_id", ts_ns_col(ev).alias("ts_ns"))
    return session_stats(ev, ts_col="ts_ns", key_col="user_id", gap=3600 * 1_000_000_000)


@query(
    "vocab_topk",
    """
WITH tok AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents),
c AS (SELECT token, count(*) AS freq FROM tok WHERE token <> '' GROUP BY token)
SELECT token, freq FROM c ORDER BY freq DESC, token LIMIT 100""",
)
def q_vocab_topk(spark, sf_dir):
    """Corpus vocabulary top-k: tokenize -> map-side partial counts ->
    TakeOrderedAndProject (no global sort). Ties broken by token for a
    deterministic boundary."""
    from ffn_polars_spark.operators.text import vocab_topk

    docs = read_table(spark, sf_dir, "documents")
    return vocab_topk(docs, k=100)


@query(
    "duplicate_spans",
    f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w,
         generate_subscripts(string_split_regex(trim(lower(text)), '\\s+'), 1) AS pos
  FROM documents),
sp AS (
  SELECT doc_id, w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
           || ' ' || lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win AS span
  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(w, 4) OVER win IS NOT NULL),
spd AS (SELECT DISTINCT doc_id, {_H('span')} AS span FROM sp),
dfreq AS (SELECT span, count(*) AS nd FROM spd GROUP BY span),
agg AS (SELECT spd.doc_id, count(*) AS n_spans,
               CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans
        FROM spd JOIN dfreq USING (span) GROUP BY spd.doc_id)
SELECT doc_id, n_spans, dup_spans,
       {R("dup_spans / CAST(n_spans AS DOUBLE)")} AS dup_frac
FROM agg""",
)
def q_duplicate_spans(spark, sf_dir):
    """Cross-document duplicated-span stats (substring-level dedup signal,
    Lee et al. 2022): 5-token sliding windows, per-doc DISTINCT, document
    frequency via groupBy (no self-join), per-doc duplicated fraction."""
    from ffn_polars_spark.operators.text import duplicate_spans

    docs = read_table(spark, sf_dir, "documents")
    return duplicate_spans(docs, width=5, min_docs=2, hash_fn="md5")


@query(
    "kmv_distinct",
    """
WITH vals AS (
  SELECT DISTINCT event_type,
         (('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':kmv:0'), 18, 15))::BIGINT
          / 1152921504606846976.0) AS h
  FROM events),
rk AS (SELECT event_type, h,
              row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       FROM vals)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_seen,
       CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
            ELSE 63.0 / max(h) END AS kmv_estimate
FROM rk WHERE rn <= 64 GROUP BY event_type""",
)
def q_kmv_distinct(spark, sf_dir):
    """K-minimum-values distinct-user estimate per event type (k=64): the
    md5-uniform hash stream is engine-portable, so DuckDB replays the k
    smallest hashes — and therefore the estimate itself — bit-for-bit."""
    from ffn_polars_spark.operators.sketch import kmv_distinct

    ev = read_table(spark, sf_dir, "events")
    return kmv_distinct(ev, "user_id", group_by=["event_type"], k=64)


@query(
    "bottomk_sample",
    """
SELECT doc_id, lang, source, n_chars FROM documents
ORDER BY (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':sample:0'), 18, 15))::BIGINT
          / 1152921504606846976.0), doc_id
LIMIT 50""",
)
def q_bottomk_sample(spark, sf_dir):
    """Deterministic exactly-k corpus sample: bottom-50 by md5 uniform of
    doc_id — independent of partitioning, replayable by any engine, and
    compiled to TakeOrderedAndProject (per-partition top-k, no global
    sort)."""
    from ffn_polars_spark.operators.sketch import bottomk_sample

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    return bottomk_sample(docs, 50, id_col="doc_id")


# Shared oracle for BOTH semantic_dedup entries: exact cosine pairs (the
# brute-force ground truth) -> recursive-CTE connected components ->
# min-label canonical. The lsh entry may reuse it because its planted pairs
# are scaled copies — identical hyperplane signs in every table, so LSH
# recall on them is structurally 1.0 (pinned by
# tests/test_similarity.py::test_dedup_embedding_lsh_scaled_copy_always_collides)
# and exact-cosine verification removes every non-pair candidate.
_SEMANTIC_DEDUP_ORACLE = f"""
WITH RECURSIVE allv AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0)
  FROM embeddings),
pr AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
  WHERE {R("list_cosine_similarity(a.v, b.v)")} >= 0.9),
edges AS (SELECT id_a AS src, id_b AS dst FROM pr
          UNION SELECT id_b, id_a FROM pr),
nodes AS (SELECT DISTINCT src AS node FROM edges),
walk AS (
  SELECT node, node AS lbl FROM nodes
  UNION
  SELECT e.dst AS node, w.lbl FROM walk w JOIN edges e ON w.node = e.src),
comp AS (SELECT node, min(lbl) AS c FROM walk GROUP BY node)
SELECT d.vec_id,
       coalesce(comp.c, d.vec_id) AS canonical_id,
       d.vec_id <> coalesce(comp.c, d.vec_id) AS is_duplicate
FROM allv d LEFT JOIN comp ON d.vec_id = comp.node"""


def _embeddings_with_scaled_copies(spark, sf_dir):
    """The planted-near-dup corpus both semantic_dedup entries run on: every
    vector unioned with a x2.0-scaled copy under id+100000 (power-of-two
    scaling is bit-exact in both engines; cosine is scale-invariant)."""
    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    emb = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding"),
    )
    copies = emb.select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    return emb.unionByName(copies)


@query("semantic_dedup", _SEMANTIC_DEDUP_ORACLE)
def q_semantic_dedup(spark, sf_dir):
    """Embedding-space dedup end to end: exact cosine pairs (>= 0.9) ->
    connected components -> canonical per semantic cluster; the oracle
    recomputes components with a recursive CTE.

    The canonical embeddings table has no cosine-near pairs (max pairwise
    cosine ~0.51), so the entry plants them: each vector is unioned with a
    x2.0-scaled copy under id+100000. Scaling by a power of two is
    bit-exact in BOTH engines (mantissa untouched) and cosine is
    scale-invariant, so every copy MUST land in its original's cluster —
    the pair generator, the transitive closure, and the canonical-min
    assignment are all exercised non-vacuously. This entry uses the
    guarded brute-force pair path (the oracle is exact by construction);
    its twin ``semantic_dedup_lsh`` drives the library-default LSH path
    against the SAME oracle."""
    from ffn_polars_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        _embeddings_with_scaled_copies(spark, sf_dir),
        threshold=0.9,
        method="bruteforce",
    )


@query("semantic_dedup_lsh", _SEMANTIC_DEDUP_ORACLE)
def q_semantic_dedup_lsh(spark, sf_dir):
    """The library-DEFAULT semantic-dedup path: banded random-hyperplane
    candidates (dedup_embedding_lsh, auto-scaled planes) + exact cosine
    verify -> connected components -> canonical. Same planted corpus and
    same exact-SQL oracle as ``semantic_dedup``; the comparison is valid
    because (a) every planted pair is a positively-scaled copy — identical
    bucket signs in all tables, recall structurally 1.0 — and (b) the max
    cosine between DISTINCT canonical vectors is ~0.51, far under the 0.9
    threshold, so exact verification leaves no room for false extras.
    Any hash mismatch here means the LSH candidate generator itself broke."""
    from ffn_polars_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        _embeddings_with_scaled_copies(spark, sf_dir), threshold=0.9, method="lsh"
    )


@query(
    "group_quantiles",
    f"""
SELECT event_type,
       {R("quantile_cont(value, 0.5)")} AS p50,
       {R("quantile_cont(value, 0.9)")} AS p90,
       {R("quantile_cont(value, 0.99)")} AS p99
FROM events GROUP BY event_type""",
)
def q_group_quantiles(spark, sf_dir):
    """Exact interpolated per-group quantiles: Spark's F.percentile and
    DuckDB's quantile_cont share the SQL-standard (n-1)*q linear
    interpolation, so the values agree to rounding."""
    from ffn_polars_spark.operators.sketch import group_quantiles

    ev = read_table(spark, sf_dir, "events")
    return group_quantiles(ev, "value", group_by=["event_type"])


@query(
    "value_histogram",
    """
WITH b AS (
  SELECT event_type,
         least(24, greatest(0, CAST(floor((value - 0.0) / 20.0) AS INT))) AS bin
  FROM events)
SELECT event_type, bin, 0.0 + bin * 20.0 AS bin_lo, count(*) AS n
FROM b GROUP BY event_type, bin""",
)
def q_value_histogram(spark, sf_dir):
    """Fixed-width clamped histogram per event type: pure projection +
    one (group, bin) aggregate with map-side partial counts."""
    from ffn_polars_spark.operators.sketch import value_histogram

    ev = read_table(spark, sf_dir, "events")
    return value_histogram(ev, "value", lo=0.0, hi=500.0, nbins=25, group_by=["event_type"])


@query(
    "tfidf_topterms",
    f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
  FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
       GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS dfc FROM tf GROUP BY term),
n AS (SELECT count(*) AS nn FROM documents),
scored AS (
  SELECT doc_id, term, tf,
         {R("tf * ln(nn / CAST(dfc AS DOUBLE))")} AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
SELECT doc_id, term, tf, tfidf,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term)
            AS INT) AS rank
FROM scored QUALIFY rank <= 3""",
)
def q_tfidf_topterms(spark, sf_dir):
    """Top-3 TF-IDF keywords per document: (doc, term) counts ->
    vocabulary-sized df aggregate -> broadcast corpus count -> per-doc rank
    window; ranking happens on the rounded score in both engines so the
    top-m sets coincide."""
    from ffn_polars_spark.operators.text import tfidf_topterms

    docs = read_table(spark, sf_dir, "documents")
    return tfidf_topterms(docs, m=3)


@query(
    "embedding_quantize",
    """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
s AS (SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      FROM v),
u AS (SELECT vec_id, scale, unnest(e) AS x,
             generate_subscripts(e, 1) AS pos1
      FROM s)
SELECT vec_id, scale, CAST(pos1 - 1 AS INT) AS pos,
       CAST(floor(x / scale + 0.5) AS INT) AS qval
FROM u""",
)
def q_embedding_quantize(spark, sf_dir):
    """Symmetric int8 quantization, posexploded so the oracle pins EVERY
    quantized component: scale = max|x|/127 and floor(x/scale + 0.5) are
    single IEEE ops, bit-identical across engines with no rounding
    tolerance needed.

    The quantized array is built INSIDE the posexplode's own projection
    (staging it in ``embedding_quantize``'s select and exploding the
    column re-evaluates the interpreted per-element transform per OUTPUT
    row — the Generate pathology; measured 6.2 s -> 0.4 s at sf1 for this
    shape, output identical). The array-returning operator remains the
    user API; only this exploded oracle view inlines."""
    emb = read_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, F.abs))
    staged = emb.select(
        "vec_id",
        v.alias("__v"),
        F.when(maxabs > 0, maxabs / F.lit(127.0)).otherwise(F.lit(0.0)).alias(
            "scale"
        ),
    )
    sc = F.col("scale")
    q = F.transform(
        F.col("__v"), lambda x: F.floor(x / sc + F.lit(0.5)).cast("int")
    )
    zeros = F.transform(F.col("__v"), lambda x: F.lit(0))
    return staged.select(
        "vec_id",
        "scale",
        F.posexplode(F.when(sc > 0, q).otherwise(zeros)).alias("pos", "qval"),
    )


@query(
    "column_profile",
    """
SELECT 'event_id' AS column, count(*) AS n,
       CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       count(DISTINCT event_id) AS n_distinct FROM events
UNION ALL
SELECT 'event_type', count(*),
       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT event_type) FROM events
UNION ALL
SELECT 'user_id', count(*),
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT user_id) FROM events
UNION ALL
SELECT 'value', count(*),
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       count(DISTINCT value) FROM events""",
)
def q_column_profile(spark, sf_dir):
    """One-pass per-column ingest profile (row/null/distinct counts) in
    exact mode so the DuckDB twin is deterministic; the library default is
    the single-aggregate HLL path."""
    from ffn_polars_spark.operators.sketch import column_profile

    ev = read_table(spark, sf_dir, "events")
    return column_profile(
        ev, cols=["event_id", "event_type", "user_id", "value"], exact=True
    )


@query(
    "corpus_overlap",
    f"""
WITH a_h AS (
  SELECT DISTINCT (('0x' || substr(md5(md5({NORM_SQL}) || ':ovl:0'), 18, 15))::BIGINT
                   / 1152921504606846976.0) AS h
  FROM documents WHERE source = (SELECT min(source) FROM documents)),
b_h AS (
  SELECT DISTINCT (('0x' || substr(md5(md5({NORM_SQL}) || ':ovl:0'), 18, 15))::BIGINT
                   / 1152921504606846976.0) AS h
  FROM documents WHERE source <> (SELECT min(source) FROM documents)),
u_h AS (SELECT h FROM a_h UNION SELECT h FROM b_h),
a_r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM a_h),
b_r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM b_h),
u_r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM u_h),
a_e AS (SELECT CASE WHEN count(*) < 128 THEN CAST(count(*) AS DOUBLE)
                    ELSE 127.0 / max(h) END AS n_a FROM a_r WHERE rn <= 128),
b_e AS (SELECT CASE WHEN count(*) < 128 THEN CAST(count(*) AS DOUBLE)
                    ELSE 127.0 / max(h) END AS n_b FROM b_r WHERE rn <= 128),
u_e AS (SELECT CASE WHEN count(*) < 128 THEN CAST(count(*) AS DOUBLE)
                    ELSE 127.0 / max(h) END AS n_union FROM u_r WHERE rn <= 128)
SELECT n_a, n_b, n_union,
       greatest(0.0, n_a + n_b - n_union) AS n_intersect,
       {R("greatest(0.0, n_a + n_b - n_union) / n_union")} AS jaccard
FROM a_e, b_e, u_e""",
)
def q_corpus_overlap(spark, sf_dir):
    """KMV overlap of the alphabetically-first source's content
    fingerprints vs the rest of the corpus (k=128): union sketch = k
    smallest of the combined stream, intersection by inclusion-exclusion —
    the oracle replays all three sketches hash-for-hash. The split pivot
    is data-derived (min source, via a broadcast 1-row frame, no collect)
    so the entry is meaningful on canonical AND generated tables."""
    from ffn_polars_spark.operators.sketch import corpus_overlap
    from ffn_polars_spark.operators.text import fingerprint

    docs = read_table(spark, sf_dir, "documents")
    ms = F.broadcast(docs.agg(F.min("source").alias("__ms")))
    fa = fingerprint(
        docs.crossJoin(ms).where(F.col("source") == F.col("__ms"))
    ).select("fingerprint")
    fb = fingerprint(
        docs.crossJoin(ms).where(F.col("source") != F.col("__ms"))
    ).select("fingerprint")
    return corpus_overlap(fa, fb, "fingerprint", k=128)


@query(
    "monthly_returns",
    PX_SQL
    + f""", ends AS (
  SELECT CAST(year(d) AS INT) AS year, CAST(month(d) AS INT) AS month,
         arg_max(price, d) AS e, arg_min(price, d) AS f
  FROM px GROUP BY 1, 2),
r AS (SELECT year, month, e, f, lag(e) OVER (ORDER BY year, month) AS prev
      FROM ends)
SELECT year, month,
       {R("CASE WHEN prev IS NOT NULL THEN e / prev - 1 ELSE e / f - 1 END")}
         AS month_return
FROM r""",
)
def q_monthly_returns(spark, sf_dir):
    """Calendar-month return series over the daily price table: month-end
    reduction (order-free max_by struct) then a lag over the tiny
    month-level frame."""
    from ffn_polars_spark.functions.eod_returns import monthly_returns

    p = px(spark, sf_dir)
    return monthly_returns(p, "price", date_col="d")


@query(
    "drawdown_details",
    PX_SQL
    + f""", dd AS (
  SELECT d, price / max(price) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
    AND CURRENT ROW) - 1 AS dd
  FROM px),
seg AS (
  SELECT d, dd,
         sum(CASE WHEN dd = 0 THEN 1 ELSE 0 END) OVER (ORDER BY d ROWS BETWEEN
           UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM dd),
u AS (SELECT * FROM seg WHERE dd < 0),
m AS (SELECT u.*, min(dd) OVER (PARTITION BY g) AS min_dd FROM u),
ep AS (
  SELECT g, min(d) AS start_d,
         min(CASE WHEN dd = min_dd THEN d END) AS trough_d,
         max(d) AS end_d,
         {R("min(dd)")} AS depth,
         count(*) AS n_obs
  FROM m GROUP BY g)
SELECT CAST(row_number() OVER (ORDER BY start_d) AS INT) AS episode,
       start_d, trough_d, end_d, depth, n_obs
FROM ep""",
)
def q_drawdown_details(spark, sf_dir):
    """Per-episode drawdown report over the daily price series: underwater
    stretches segmented at exact high-water-mark touches (p == cummax is an
    exact IEEE equality), one aggregate per episode."""
    from ffn_polars_spark.functions.eod_risk import drawdown_details

    p = px(spark, sf_dir)
    return drawdown_details(p, "price", order_by="d")


@query(
    "drawdown_at_risk",
    PX_SQL
    + """, dd AS (
  SELECT d, price / max(price) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
    AND CURRENT ROW) - 1 AS dd
  FROM px),
seg AS (
  SELECT d, dd,
         sum(CASE WHEN dd = 0 THEN 1 ELSE 0 END) OVER (ORDER BY d ROWS BETWEEN
           UNBOUNDED PRECEDING AND CURRENT ROW) AS g
  FROM dd),
u AS (SELECT * FROM seg WHERE dd < 0),
ep AS (
  SELECT g, floor((min(dd)) * 1000000.0 + 0.5) / 1000000.0 AS depth
  FROM u GROUP BY g),
qd AS (SELECT quantile_cont(depth, 1.0 - 0.9) AS dar FROM ep)
SELECT count(*) AS n_episodes,
       """
    + R("min(depth)")
    + " AS worst,\n       "
    + R("max(dar)")
    + " AS dar,\n       "
    + R("avg(CASE WHEN depth <= dar THEN depth END)")
    + """ AS ced,
       count(CASE WHEN depth <= dar THEN 1 END) AS n_tail
FROM ep, qd""",
)
def q_drawdown_at_risk(spark, sf_dir):
    """Drawdown-at-Risk and Conditional Expected Drawdown at alpha=0.9
    over the daily series' drawdown episodes: the episode table is the
    drawdown_details plan, the tail aggregate broadcast-joins back."""
    from ffn_polars_spark.functions.eod_risk import drawdown_at_risk

    p = px(spark, sf_dir)
    out = drawdown_at_risk(p, "price", order_by="d", alpha=0.9)
    return out.select(
        "n_episodes", r6("worst").alias("worst"), r6("dar").alias("dar"),
        r6("ced").alias("ced"), "n_tail",
    )


@query(
    "weekday_returns",
    PX_SQL
    + f""", rr AS (
  SELECT d, price / lag(price) OVER (ORDER BY d) - 1 AS r FROM px)
SELECT (date_diff('day', DATE '1970-01-01', d) + 4) % 7 AS dow,
       count(r) AS n, {R("avg(r)")} AS mean_r,
       {R("stddev_samp(r)")} AS vol,
       {R("avg(CASE WHEN r > 0 THEN 1.0 ELSE 0.0 END)")} AS win_rate,
       {R("CASE WHEN stddev_samp(r) > 0 THEN avg(r) / (stddev_samp(r) / sqrt(count(r))) END")} AS t_stat
FROM rr WHERE r IS NOT NULL GROUP BY 1""",
)
def q_weekday_returns(spark, sf_dir):
    """Day-of-week seasonality panel over daily returns — engine-portable
    weekday ((epoch_days + 4) mod 7), one projection + one tiny
    aggregate."""
    from ffn_polars_spark.functions.eod_temporal import weekday_returns

    p = px(spark, sf_dir)
    rets = p.select(
        "d", ffn.eod.to_returns("price", over=PX_OVER).alias("r")
    )
    out = weekday_returns(rets, "r", "d")
    return out.select(
        "dow", "n", r6("mean_r").alias("mean_r"), r6("vol").alias("vol"),
        r6("win_rate").alias("win_rate"), r6("t_stat").alias("t_stat"),
    )


def _mat(sql: str, *ctes: str) -> str:
    """Add DuckDB's MATERIALIZED hint to the named CTEs of a recursive
    oracle. DuckDB re-evaluates a plain (inlined) CTE on every iteration of
    a recursive CTE that probes it, turning an O(n) sequential walk into
    O(n x iterations) — the seven recursive-walk oracles cost 92 s at
    sf0.01 without the hint and 14 s with it, with byte-identical output
    (the hint changes evaluation strategy, not semantics)."""
    for c in ctes:
        sql = sql.replace(f"{c} AS (", f"{c} AS MATERIALIZED (", 1)
    return sql


# EWMA oracle constants: repr() so the SQL literal parses back to the exact
# binary64 the Python scan uses (1.0 - 0.1 rounds to the same double as the
# literal 0.9; spelling both out keeps that invariant auditable).
_EWMA_A = 0.1
_EWMA_B = 1.0 - _EWMA_A


@query(
    "ewma",
    _mat(
        TICKS_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""", rn AS (
  SELECT event_type, ts_ns, price,
         row_number() OVER (PARTITION BY event_type ORDER BY ts_ns) AS rn
  FROM ticks),
walk AS (
  SELECT event_type, ts_ns, rn, price AS y FROM rn WHERE rn = 1
  UNION ALL
  SELECT r.event_type, r.ts_ns, r.rn, {_EWMA_A!r} * r.price + {_EWMA_B!r} * w.y
  FROM walk w JOIN rn r ON r.event_type = w.event_type AND r.rn = w.rn + 1)
SELECT event_type, ts_ns, {R("y")} AS price_ewma FROM walk""",
        "ticks", "rn",
    ),
)
def q_ewma(spark, sf_dir):
    """Recursive EWMA (alpha=0.1) per ticker: the Arrow-batched per-key scan
    uses one multiply-multiply-add per step, and the oracle replays the
    identical recurrence with a recursive CTE — bit-for-bit, no closed-form
    approximation on either side."""
    from ffn_polars_spark.operators.recursive import ewma

    t = ticks(spark, sf_dir).select("event_type", "ts_ns", "price")
    out = ewma(t, "price", _EWMA_A, "ts_ns", by=["event_type"])
    return out.select("event_type", "ts_ns", r6(F.col("price_ewma")).alias("price_ewma"))


@query(
    "ewm_volatility",
    _mat(
        TICKS_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""", r0 AS (
  SELECT event_type, ts_ns, price / lag(price) OVER ({W}) - 1 AS r
  FROM ticks),
rn AS (
  SELECT event_type, ts_ns, r,
         row_number() OVER (PARTITION BY event_type ORDER BY ts_ns) AS rn
  FROM r0 WHERE r IS NOT NULL),
walk AS (
  SELECT event_type, ts_ns, rn, r * r AS v FROM rn WHERE rn = 1
  UNION ALL
  SELECT x.event_type, x.ts_ns, x.rn, {_EWMA_B!r} * w.v + {_EWMA_A!r} * (x.r * x.r)
  FROM walk w JOIN rn x ON x.event_type = w.event_type AND x.rn = w.rn + 1)
SELECT event_type, ts_ns, {R("sqrt(v)")} AS r_ewmvol FROM walk""",
        "ticks", "r0", "rn",
    ),
)
def q_ewm_volatility(spark, sf_dir):
    """RiskMetrics exponentially weighted volatility over simple returns
    (alpha=0.1): sigma2_t = (1-a)*sigma2_(t-1) + a*r_t^2, replayed by a
    recursive CTE draw-for-draw."""
    from ffn_polars_spark.operators.recursive import ewm_volatility

    t = ticks(spark, sf_dir)
    r = t.select(
        "event_type",
        "ts_ns",
        ffn.eod.to_returns("price", over=TICK_OVER).alias("r"),
    ).where(F.col("r").isNotNull())
    out = ewm_volatility(r, "r", _EWMA_A, "ts_ns", by=["event_type"])
    return out.select("event_type", "ts_ns", r6(F.col("r_ewmvol")).alias("r_ewmvol"))


# MACD EMA coefficients, spelled as repr() so the SQL literals parse back to
# the exact binary64 doubles the Python scan computes from 2/(n+1).
_MACD_AF, _MACD_AS, _MACD_AG = 2.0 / 13.0, 2.0 / 27.0, 2.0 / 10.0
_MACD_BF, _MACD_BS, _MACD_BG = 1.0 - _MACD_AF, 1.0 - _MACD_AS, 1.0 - _MACD_AG


@query(
    "macd",
    _mat(
        TICKS_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""", rn AS (
  SELECT event_type, ts_ns, price,
         row_number() OVER (PARTITION BY event_type ORDER BY ts_ns) AS rn
  FROM ticks),
walk AS (
  SELECT event_type, ts_ns, rn, price AS ef, price AS es,
         CAST(0.0 AS DOUBLE) AS sig
  FROM rn WHERE rn = 1
  UNION ALL
  SELECT r.event_type, r.ts_ns, r.rn,
         {_MACD_AF!r} * r.price + {_MACD_BF!r} * w.ef,
         {_MACD_AS!r} * r.price + {_MACD_BS!r} * w.es,
         {_MACD_AG!r} * (({_MACD_AF!r} * r.price + {_MACD_BF!r} * w.ef)
                       - ({_MACD_AS!r} * r.price + {_MACD_BS!r} * w.es))
           + {_MACD_BG!r} * w.sig
  FROM walk w JOIN rn r ON r.event_type = w.event_type AND r.rn = w.rn + 1)
SELECT event_type, ts_ns, {R("ef - es")} AS macd, {R("sig")} AS macd_signal,
       {R("(ef - es) - sig")} AS macd_hist
FROM walk""",
        "ticks", "rn",
    ),
)
def q_macd(spark, sf_dir):
    """MACD(12,26,9) per ticker: three EMA recurrences in one Arrow scan
    per key, replayed draw-for-draw by a recursive CTE carrying
    (ema_fast, ema_slow, signal) as state."""
    from ffn_polars_spark.operators.recursive import macd

    t = ticks(spark, sf_dir).select("event_type", "ts_ns", "price")
    out = macd(t, "price", "ts_ns", by=["event_type"])
    return out.select(
        "event_type", "ts_ns", r6("macd").alias("macd"),
        r6("macd_signal").alias("macd_signal"),
        r6("macd_hist").alias("macd_hist"),
    )


_RSI_A = 1.0 / 14.0
_RSI_B = 1.0 - _RSI_A


@query(
    "rsi",
    _mat(
        TICKS_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""", d0 AS (
  SELECT event_type, ts_ns, price - lag(price) OVER ({W}) AS d
  FROM ticks),
rn AS (
  SELECT event_type, ts_ns, d,
         row_number() OVER (PARTITION BY event_type ORDER BY ts_ns) AS rn
  FROM d0 WHERE d IS NOT NULL),
walk AS (
  SELECT event_type, ts_ns, rn,
         CASE WHEN d > 0 THEN d ELSE 0.0 END AS ag,
         CASE WHEN d < 0 THEN -d ELSE 0.0 END AS al
  FROM rn WHERE rn = 1
  UNION ALL
  SELECT x.event_type, x.ts_ns, x.rn,
         {_RSI_A!r} * (CASE WHEN x.d > 0 THEN x.d ELSE 0.0 END) + {_RSI_B!r} * w.ag,
         {_RSI_A!r} * (CASE WHEN x.d < 0 THEN -x.d ELSE 0.0 END) + {_RSI_B!r} * w.al
  FROM walk w JOIN rn x ON x.event_type = w.event_type AND x.rn = w.rn + 1)
SELECT event_type, ts_ns,
       CASE WHEN al > 0 THEN {R("100.0 - 100.0 / (1.0 + ag / al)")}
            WHEN ag > 0 THEN 100.0 END AS price_rsi
FROM walk""",
        "ticks", "d0", "rn",
    ),
)
def q_rsi(spark, sf_dir):
    """Wilder RSI(14) per ticker (EWMA-seeded, see operator docstring):
    the (avg_gain, avg_loss) pair is recursive-CTE state in the oracle.
    The first row per key has no price change, so both sides emit rows
    only from the second tick on (flat-window nulls are kept)."""
    from pyspark.sql.window import Window as SqlWindow

    from ffn_polars_spark.operators.recursive import rsi

    t = ticks(spark, sf_dir).select("event_type", "ts_ns", "price")
    out = rsi(t, "price", "ts_ns", by=["event_type"], n=14)
    rk = F.row_number().over(
        SqlWindow.partitionBy("event_type").orderBy("ts_ns")
    )
    return (
        out.withColumn("__rk", rk)
        .where(F.col("__rk") > 1)
        .select("event_type", "ts_ns", r6("price_rsi").alias("price_rsi"))
    )


@query(
    "bollinger",
    TICKS_SQL
    + f""", b AS (
  SELECT event_type, ts_ns, price,
         avg(price) OVER ({W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS mid,
         stddev_samp(price) OVER ({W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS sd,
         count(price) OVER ({W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS cnt
  FROM ticks)
SELECT event_type, ts_ns,
       CASE WHEN cnt >= 20 THEN {R("mid")} END AS bb_mid,
       CASE WHEN cnt >= 20 THEN {R("mid + 2.0 * sd")} END AS bb_up,
       CASE WHEN cnt >= 20 THEN {R("mid - 2.0 * sd")} END AS bb_dn,
       CASE WHEN cnt >= 20 AND (mid + 2.0 * sd) <> (mid - 2.0 * sd)
            THEN {R("(price - (mid - 2.0 * sd)) / ((mid + 2.0 * sd) - (mid - 2.0 * sd))")} END AS bb_pctb,
       CASE WHEN cnt >= 20 AND mid <> 0
            THEN {R("((mid + 2.0 * sd) - (mid - 2.0 * sd)) / mid")} END AS bb_bw
FROM b""",
)
def q_bollinger(spark, sf_dir):
    """Bollinger(20, 2) per ticker: five band columns from ONE window
    frame over one sort — single exchange, all JVM-side."""
    from ffn_polars_spark.functions.rolling import bollinger

    t = ticks(spark, sf_dir).select("event_type", "ts_ns", "event_id", "price")
    out = bollinger(t, "price", over=TICK_OVER, window=20, k=2.0)
    return out.select(
        "event_type", "ts_ns", r6("bb_mid").alias("bb_mid"),
        r6("bb_up").alias("bb_up"), r6("bb_dn").alias("bb_dn"),
        r6("bb_pctb").alias("bb_pctb"), r6("bb_bw").alias("bb_bw"),
    )


@query(
    "unigram_logprob",
    r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents),
t AS (SELECT doc_id, token FROM tok WHERE token <> ''),
tf AS (SELECT token, count(*) AS tf FROM t GROUP BY token),
n AS (SELECT count(*) AS n FROM t)
SELECT doc_id, count(*) AS n_tokens,
       round(ln((SELECT n FROM n)) - avg(ln(tf.tf)), 6) AS neg_logprob
FROM t JOIN tf USING (token) GROUP BY doc_id""",
)
def q_unigram_logprob(spark, sf_dir):
    """Perplexity-proxy quality score: per-doc mean negative log-likelihood
    under the corpus unigram model, factored as ln(N) - mean(ln tf) so the
    only corpus-sized work is one token count and one AQE-skew-splittable
    join (see operator docstring for why a join beats a token window)."""
    from ffn_polars_spark.operators.text import unigram_logprob

    docs = read_table(spark, sf_dir, "documents")
    return unigram_logprob(docs)


@query(
    "corpus_rollup",
    r"""
SELECT source, lang, CAST(grouping_id(source, lang) AS INT) AS gid,
       count(*) AS n_docs,
       CAST(sum(len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT)
         AS n_tokens,
       round(avg(length(text)), 6) AS avg_chars
FROM documents GROUP BY ROLLUP (source, lang)""",
)
def q_corpus_rollup(spark, sf_dir):
    """Hierarchical corpus summary in one pass: GROUP BY ROLLUP emits
    (source, lang), (source), and grand-total rows from a single aggregate;
    grouping_id() disambiguates subtotals from genuine NULL groups (same
    SQL-standard bit order in Spark and DuckDB)."""
    from ffn_polars_spark.operators.text import corpus_rollup

    docs = read_table(spark, sf_dir, "documents")
    return corpus_rollup(docs)


@query(
    "robust_outliers",
    """
WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM events GROUP BY event_type),
d AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS absdev
      FROM events e JOIN m USING (event_type)),
md AS (SELECT event_type, quantile_cont(absdev, 0.5) AS mad
       FROM d GROUP BY event_type)
SELECT d.event_type, count(*) AS n,
       round(max(d.med), 6) AS median, round(max(md.mad), 6) AS mad,
       CAST(sum(CASE WHEN d.absdev > 3.0 * 1.4826 * md.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(CAST(sum(CASE WHEN d.absdev > 3.0 * 1.4826 * md.mad
                      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         AS outlier_frac
FROM d JOIN md USING (event_type) GROUP BY d.event_type""",
)
def q_robust_outliers(spark, sf_dir):
    """Median/MAD robust outlier screen per event type: two exact-percentile
    aggregates with broadcast joins back (the big side never shuffles for
    the joins), then one counting aggregate. F.percentile and quantile_cont
    share the SQL-standard interpolation, and the fence arithmetic is
    written identically in both engines so the > comparison is exact."""
    from ffn_polars_spark.operators.sketch import robust_outliers

    ev = read_table(spark, sf_dir, "events")
    return robust_outliers(ev, "value", group_by=["event_type"], k=3.0)


@query(
    "corr_matrix",
    TICKS_SQL
    + """,
b AS (SELECT event_type AS key,
             CAST(floor(ts_ns / 60000000000) AS BIGINT) AS bucket,
             avg(price) AS p
      FROM ticks GROUP BY 1, 2),
r AS (SELECT key, bucket,
             p / lag(p) OVER (PARTITION BY key ORDER BY bucket) - 1 AS ret
      FROM b),
rr AS (SELECT key, bucket, ret FROM r WHERE ret IS NOT NULL)
SELECT a.key AS key_a, c.key AS key_b, count(*) AS n_buckets,
       round(corr(a.ret, c.ret), 6) AS ret_corr
FROM rr a JOIN rr c ON a.bucket = c.bucket AND a.key < c.key
GROUP BY 1, 2""",
)
def q_corr_matrix(spark, sf_dir):
    """Pairwise return-correlation matrix across the five tick series:
    minute-bucket alignment, lag-window returns, bucket-keyed self-join
    (uniform high-cardinality key — even shuffle), (key_a, key_b) corr
    aggregate. Upper triangle only via key_a < key_b."""
    from ffn_polars_spark.operators.wide import corr_matrix

    t = ticks(spark, sf_dir)
    return corr_matrix(
        t, ts_col="ts_ns", key_col="event_type", price_col="price",
        bucket_ns=60_000_000_000, min_buckets=2,
    )


@query(
    "chunk_documents",
    r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
nn AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
st AS (SELECT doc_id, toks, unnest(generate_series(0, n - 1, 24)) AS s
       FROM nn)
SELECT doc_id, CAST(s / 24 AS INT) AS chunk_id,
       array_to_string(list_slice(toks, s + 1, s + 32), ' ') AS chunk_text,
       CAST(len(list_slice(toks, s + 1, s + 32)) AS INT) AS chunk_tokens
FROM st""",
)
def q_chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (32-token chunks, 8-token overlap
    -> stride 24, so the sf0.01 docs produce multiple chunks each): pure
    map-side tokenize/explode/slice, no shuffle; the token array is staged
    while the explode generates only the int start sequence (Generate
    pathology avoided)."""
    from ffn_polars_spark.operators.text import chunk_documents

    docs = read_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=32, overlap=8)


@query(
    "embedding_normalize",
    f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
s AS (SELECT vec_id, e,
             sqrt(list_sum(list_transform(e, x -> x * x))) AS nrm
      FROM v),
u AS (SELECT vec_id, nrm, unnest(e) AS x,
             generate_subscripts(e, 1) AS pos1
      FROM s WHERE nrm > 0)
SELECT vec_id, {R("nrm")} AS norm, CAST(pos1 - 1 AS INT) AS pos,
       {R("x / nrm")} AS nval
FROM u""",
)
def q_embedding_normalize(spark, sf_dir):
    """Unit-vector normalization, posexploded so the oracle pins every
    component: the norm is a strict sequential fold over the doubles in
    both engines, and each normalized component rounds to 6 decimals.

    Stage the double vector and the norm as COLUMNS, then build the
    normalized array inside the posexplode's own projection — exploding
    ``embedding_normalize``'s staged ``uvec`` re-evaluates the interpreted
    fold+transform per OUTPUT row (the Generate pathology; measured
    14.0 s -> 0.5 s at sf1, output identical)."""
    emb = read_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    staged = emb.select("vec_id", v.alias("__v"), nrm.alias("__n")).where(
        F.col("__n") > 0
    )
    return staged.select(
        "vec_id",
        r6(F.col("__n")).alias("norm"),
        F.posexplode(
            F.transform("__v", lambda x: x / F.col("__n"))
        ).alias("pos", "nval_raw"),
    ).select("vec_id", "norm", "pos", r6(F.col("nval_raw")).alias("nval"))


@query(
    "streaming_topk",
    """
SELECT user_id, count(*) AS n
FROM events GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10""",
)
def q_streaming_topk(spark, sf_dir):
    """Live heavy hitters: complete-mode streaming count + sort + limit,
    drained and compared to the batch GROUP BY twin. The sort runs over
    the aggregated state (one row per key), not the stream."""
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        streaming_topk,
    )

    stage = _stage_stream_dir(sf_dir, "events", "ffn_stream")
    stream = read_tick_stream(spark, stage, ts_col="ts")
    out = streaming_topk(stream, ["user_id"], k=10)
    return run_available_now(out, output_mode="complete")


@query(
    "funnel_stages",
    """
WITH f AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) * 1000 END) AS t0,
         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) * 1000 END) AS t1,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) * 1000 END) AS t2
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
  GROUP BY user_id),
c AS (SELECT
  CAST(sum(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n0,
  CAST(sum(CASE WHEN t0 IS NOT NULL AND t0 < t1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
  CAST(sum(CASE WHEN t0 IS NOT NULL AND t0 < t1 AND t1 < t2 THEN 1 ELSE 0 END)
       AS BIGINT) AS n2
  FROM f)
SELECT CAST(0 AS INT) AS stage, 'view' AS stage_name, n0 AS n_users,
       1.0 AS conversion FROM c
UNION ALL
SELECT CAST(1 AS INT), 'click', n1,
       round(CASE WHEN n0 > 0 THEN CAST(n1 AS DOUBLE) / n0 END, 6) FROM c
UNION ALL
SELECT CAST(2 AS INT), 'purchase', n2,
       round(CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1 END, 6) FROM c""",
)
def q_funnel_stages(spark, sf_dir):
    """Ordered view->click->purchase funnel: one per-user first-occurrence
    aggregate (map-side partial mins), one global stage-count aggregate —
    no joins, no raw-event windows."""
    from ffn_polars_spark.operators.funnel import funnel_stages

    t = ticks(spark, sf_dir)
    return funnel_stages(
        t, ["view", "click", "purchase"], user_col="user_id",
        type_col="event_type", ts_col="ts_ns",
    )


_WEEK_NS = 7 * 24 * 3600 * 1_000_000_000


@query(
    "cohort_retention",
    f"""
WITH e AS (SELECT user_id, epoch_us(ts) * 1000 AS ts_ns FROM events),
f AS (SELECT user_id,
             min(ts_ns) - min(ts_ns) % {_WEEK_NS} AS cohort
      FROM e GROUP BY user_id),
t AS (SELECT DISTINCT e.user_id, f.cohort,
             CAST(((ts_ns - ts_ns % {_WEEK_NS}) - f.cohort) / {_WEEK_NS} AS INT)
               AS "offset"
      FROM e JOIN f USING (user_id)),
c AS (SELECT cohort, "offset", count(*) AS n_users FROM t GROUP BY 1, 2)
SELECT cohort AS cohort_start, "offset", n_users,
       round(CAST(n_users AS DOUBLE) /
             max(CASE WHEN "offset" = 0 THEN n_users END)
               OVER (PARTITION BY cohort), 6) AS retention
FROM c""",
)
def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention: first-event aggregate + user-keyed join
    back + (cohort, offset) distinct count; retention normalizes by the
    cohort's offset-0 size via a window over cohort-sized rows."""
    from ffn_polars_spark.operators.funnel import cohort_retention

    t = ticks(spark, sf_dir)
    return cohort_retention(
        t, user_col="user_id", ts_col="ts_ns", period_ns=_WEEK_NS
    )


@query(
    "quantile_bin",
    """
SELECT event_id, event_type, value,
       CAST(ntile(4) OVER (PARTITION BY event_type
                           ORDER BY value, event_id) AS INT) AS bin
FROM events""",
)
def q_quantile_bin(spark, sf_dir):
    """Per-group quartile bucketing via ntile with a deterministic
    event_id tiebreak (exact mode — the approx percentile-cut path is the
    scale variant, exercised in tests)."""
    from ffn_polars_spark.operators.sketch import quantile_bin

    ev = read_table(spark, sf_dir, "events")
    out = quantile_bin(
        ev.select("event_id", "event_type", "value"),
        "value", nbins=4, group_by=["event_type"], tiebreak="event_id",
    )
    return out.select(
        "event_id", "event_type", "value", F.col("bin").cast("int").alias("bin")
    )


@query(
    "inverted_index",
    r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents),
t AS (SELECT DISTINCT doc_id, token FROM tok WHERE token <> '')
SELECT token, count(*) AS n_docs,
       array_to_string(list(doc_id ORDER BY doc_id), ',') AS doc_ids
FROM t GROUP BY token""",
)
def q_inverted_index(spark, sf_dir):
    """Token -> posting-list inverted index: distinct (doc, token) pairs,
    token-keyed collect_list sorted in-row — no global sort; the oracle
    compares the posting lists as comma-joined strings so every id and its
    order is pinned."""
    from ffn_polars_spark.operators.search import inverted_index

    docs = read_table(spark, sf_dir, "documents")
    idx = inverted_index(docs)
    return idx.select(
        "token",
        "n_docs",
        F.array_join(F.col("doc_ids").cast("array<string>"), ",").alias(
            "doc_ids"
        ),
    )


@query(
    "keyword_search",
    r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents),
t AS (SELECT doc_id, token FROM tok WHERE token <> ''),
m AS (SELECT doc_id, token FROM t WHERE token IN ('hash', 'join', 'scan')),
a AS (SELECT doc_id, count(DISTINCT token) AS n_terms, count(*) AS total_tf
      FROM m GROUP BY doc_id)
SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms,
       CAST(total_tf AS BIGINT) AS total_tf
FROM a WHERE n_terms = 3""",
)
def q_keyword_search(spark, sf_dir):
    """Conjunctive keyword search (docs containing hash AND join AND scan):
    broadcast query-term join semi-filters the exploded tokens before any
    shuffle; one per-doc aggregate enforces the AND."""
    from ffn_polars_spark.operators.search import keyword_search

    docs = read_table(spark, sf_dir, "documents")
    return keyword_search(docs, ["hash", "join", "scan"])


@query(
    "pivot_wide",
    f"""
WITH t AS (SELECT epoch_us(ts) * 1000 AS ts_ns, event_type,
                  100.0 + value / 10.0 AS price
           FROM events),
b AS (SELECT CAST(floor(ts_ns / 60000000000) AS BIGINT) AS bucket,
             event_type, price FROM t)
SELECT bucket,
       {R("avg(CASE WHEN event_type = 'click' THEN price END)")} AS click,
       {R("avg(CASE WHEN event_type = 'error' THEN price END)")} AS error,
       {R("avg(CASE WHEN event_type = 'purchase' THEN price END)")} AS purchase,
       {R("avg(CASE WHEN event_type = 'signup' THEN price END)")} AS signup,
       {R("avg(CASE WHEN event_type = 'view' THEN price END)")} AS view
FROM b GROUP BY bucket""",
)
def q_pivot_wide(spark, sf_dir):
    """Long -> wide pivot (one minute-bucket row, one column per event
    type, avg-price cells): explicit key list keeps the schema static and
    skips the distinct-keys job; avg cells are deterministic where first()
    would depend on partition arrival order."""
    from ffn_polars_spark.operators.wide import pivot_prices

    t = ticks(spark, sf_dir)
    b = t.select(
        F.floor(F.col("ts_ns") / F.lit(60_000_000_000)).alias("bucket"),
        "event_type",
        "price",
    )
    wide = pivot_prices(
        b, "bucket", key_col="event_type", value_col="price",
        keys=["click", "error", "purchase", "signup", "view"], agg="avg",
    )
    return wide.select(
        "bucket",
        *[r6(F.col(c)).alias(c) for c in ("click", "error", "purchase", "signup", "view")],
    )


@query(
    "jsonl_roundtrip",
    """
SELECT doc_id, lang, source, n_chars,
       length(text) AS text_len, md5(text) AS text_md5
FROM documents""",
)
def q_jsonl_roundtrip(spark, sf_dir):
    """JSONL ingestion parity: write the documents table as JSON Lines
    (the LLM-corpus interchange format), read it back with an EXPLICIT
    schema (no inference pass), and pin byte-exact text integrity through
    JSON escaping via md5 against the parquet-sourced oracle — newlines,
    quotes, and unicode must survive the round trip."""
    import hashlib
    import os

    from ffn_polars_spark.sources import read_jsonl, write_jsonl

    docs = read_table(spark, sf_dir, "documents")
    key = hashlib.md5(os.path.normpath(sf_dir).encode()).hexdigest()[:10]
    path = f"/tmp/ffn_jsonl_{key}/documents"
    write_jsonl(docs, path, max_records_per_file=100_000)
    back = read_jsonl(spark, path, schema=docs.schema)
    return back.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.length("text").alias("text_len"),
        F.md5("text").alias("text_md5"),
    )


@query(
    "csv_roundtrip",
    """
SELECT doc_id, lang, source, n_chars,
       length(text) AS text_len, md5(text) AS text_md5
FROM documents""",
)
def q_csv_roundtrip(spark, sf_dir):
    """Quoted-CSV ingestion parity (RFC 4180 quote-doubling dialect):
    write the documents table as CSV, read it back with an explicit
    schema and multiLine quoting, and pin byte-exact text integrity via
    md5 — embedded newlines, quotes, and unicode must survive the
    lowest-common-denominator format."""
    import hashlib
    import os

    from ffn_polars_spark.sources import read_csv, write_csv

    docs = read_table(spark, sf_dir, "documents")
    key = hashlib.md5(os.path.normpath(sf_dir).encode()).hexdigest()[:10]
    path = f"/tmp/ffn_csv_{key}/documents"
    write_csv(docs, path, max_records_per_file=100_000)
    back = read_csv(spark, path, schema=docs.schema)
    return back.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.length("text").alias("text_len"),
        F.md5("text").alias("text_md5"),
    )


@query(
    "orc_roundtrip",
    """
SELECT doc_id, lang, source, n_chars,
       length(text) AS text_len, md5(text) AS text_md5
FROM documents""",
)
def q_orc_roundtrip(spark, sf_dir):
    """ORC sink/source parity (the Hive/Trino-ecosystem columnar format):
    write, read back (schema travels with the file), byte-exact text md5
    against the parquet-sourced oracle."""
    import hashlib
    import os

    from ffn_polars_spark.sources import read_orc, write_orc

    docs = read_table(spark, sf_dir, "documents")
    key = hashlib.md5(os.path.normpath(sf_dir).encode()).hexdigest()[:10]
    path = f"/tmp/ffn_orc_{key}/documents"
    write_orc(docs, path, max_records_per_file=100_000)
    back = read_orc(spark, path)
    return back.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.length("text").alias("text_len"),
        F.md5("text").alias("text_md5"),
    )


@query(
    "transition_matrix",
    f"""
WITH e AS (SELECT user_id, event_type, epoch_us(ts) * 1000 AS ts_ns, event_id
           FROM events),
p AS (SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts_ns, event_id) AS from_type,
             event_type AS to_type
      FROM e),
c AS (SELECT from_type, to_type, count(*) AS n
      FROM p WHERE from_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, n,
       {R("CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_type)")} AS prob
FROM c""",
)
def q_transition_matrix(spark, sf_dir):
    """First-order Markov event-type transitions P(to | from): one lag
    window per user (event_id tiebreak for duplicate timestamps), one
    (from, to) aggregate; row probabilities normalize over the matrix
    itself, not the events."""
    from ffn_polars_spark.operators.funnel import transition_matrix

    t = ticks(spark, sf_dir)
    return transition_matrix(
        t, user_col="user_id", type_col="event_type", ts_col="ts_ns",
        tiebreak_col="event_id",
    )


@query(
    "bigram_logprob",
    r"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token,
         generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1)
           AS pos
  FROM documents),
t AS (SELECT doc_id, pos, token FROM tok WHERE token <> ''),
p AS (SELECT doc_id,
             lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
             token
      FROM t),
pr AS (SELECT doc_id, prev, token FROM p WHERE prev IS NOT NULL),
bc AS (SELECT prev, token, count(*) AS c FROM pr GROUP BY prev, token),
lft AS (SELECT prev, sum(c) AS cl FROM bc GROUP BY prev)
SELECT pr.doc_id, count(*) AS n_bigrams,
       round(-avg(ln(CAST(bc.c AS DOUBLE) / lft.cl)), 6) AS neg_logprob
FROM pr JOIN bc USING (prev, token) JOIN lft USING (prev)
GROUP BY pr.doc_id""",
)
def q_bigram_logprob(spark, sf_dir):
    """Bigram perplexity proxy: MLE conditionals c(prev,t)/c_left(prev),
    one bigram-count aggregate + a derived left-context aggregate +
    pair-keyed join back — bigram-vocabulary-sized after the first
    aggregate. Docs under 2 tokens are omitted."""
    from ffn_polars_spark.operators.text import bigram_logprob

    docs = read_table(spark, sf_dir, "documents")
    return bigram_logprob(docs)


@query(
    "partitioned_roundtrip",
    """
SELECT event_id, user_id, CAST(epoch_us(ts) * 1000 AS BIGINT) AS ts_ns, value
FROM events WHERE event_type = 'purchase'""",
)
def q_partitioned_roundtrip(spark, sf_dir):
    """Partitioned-layout round trip: write events partitioned by
    event_type (the directory-pruning layout write_table recommends for
    tick data), read back with a partition predicate, and hash-match the
    filtered rows against the flat-parquet oracle. The predicate resolves
    as a PartitionFilter — whole directories are skipped, the pruning
    lever that separates touching one day from touching 100 TB
    (tests/test_plans.py pins the PartitionFilters line)."""
    import hashlib
    import os

    from ffn_polars_spark.sources import write_table

    ev = read_table(spark, sf_dir, "events")
    key = hashlib.md5(os.path.normpath(sf_dir).encode()).hexdigest()[:10]
    path = f"/tmp/ffn_part_{key}/events"
    write_table(ev, path, partition_by="event_type")
    back = spark.read.parquet(path).where(F.col("event_type") == "purchase")
    return back.select(
        "event_id", "user_id", ts_ns_col(back).alias("ts_ns"), "value"
    )


@query(
    "scd2_build",
    """
WITH u AS (SELECT user_id, CAST(floor(value / 100) AS INT) AS tier,
                  epoch_us(ts) * 1000 AS ts_ns
           FROM events),
c AS (SELECT user_id, tier, ts_ns,
             lag(tier) OVER (PARTITION BY user_id ORDER BY ts_ns) AS prev
      FROM u),
ch AS (SELECT user_id, tier, ts_ns FROM c
       WHERE prev IS NULL OR tier IS DISTINCT FROM prev)
SELECT user_id, tier, ts_ns AS valid_from,
       lead(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns) AS valid_to
FROM ch""",
)
def q_scd2_build(spark, sf_dir):
    """SCD2 dimension built from scratch (empty dim + snapshot stream):
    per-user tier change points become [valid_from, valid_to) version
    chains with NULL marking the open version. One lag window for change
    detection, one lead window for bracketing — both user-keyed."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ffn_polars_spark.operators.scd import scd2_merge

    ev = read_table(spark, sf_dir, "events")
    updates = ev.select(
        "user_id",
        F.floor(F.col("value") / F.lit(100.0)).cast("int").alias("tier"),
        ts_ns_col(ev).alias("ts_ns"),
    )
    empty = spark.createDataFrame(
        [],
        StructType(
            [
                StructField("user_id", LongType()),
                StructField("tier", IntegerType()),
                StructField("valid_from", LongType()),
                StructField("valid_to", LongType()),
            ]
        ),
    )
    return scd2_merge(empty, updates, "user_id", ["tier"], ts_col="ts_ns")


@query(
    "scd2_asof_join",
    """
WITH u AS (SELECT user_id, CAST(floor(value / 100) AS INT) AS tier,
                  epoch_us(ts) * 1000 AS ts_ns
           FROM events),
c AS (SELECT user_id, tier, ts_ns,
             lag(tier) OVER (PARTITION BY user_id ORDER BY ts_ns) AS prev
      FROM u),
ch AS (SELECT user_id, tier, ts_ns FROM c
       WHERE prev IS NULL OR tier IS DISTINCT FROM prev),
d AS (SELECT user_id, tier, ts_ns AS valid_from,
             lead(ts_ns) OVER (PARTITION BY user_id ORDER BY ts_ns) AS valid_to
      FROM ch),
f AS (SELECT event_id, user_id, epoch_us(ts) * 1000 AS ts_ns FROM events
      WHERE event_type = 'purchase')
SELECT f.event_id, f.user_id, f.ts_ns, d.tier,
       CAST(d.valid_from AS BIGINT) AS valid_from
FROM f LEFT JOIN d
  ON d.user_id = f.user_id
 AND d.valid_from <= f.ts_ns
 AND (d.valid_to IS NULL OR f.ts_ns < d.valid_to)""",
)
def q_scd2_asof_join(spark, sf_dir):
    """Point-in-time join of purchase facts against the SCD2 tier
    dimension: key equi-join with the validity interval as a residual —
    at most one version matches per fact, output stays fact-sized, left
    join keeps unmatched facts visible."""
    from ffn_polars_spark.operators.scd import scd2_asof_join

    ev = read_table(spark, sf_dir, "events")
    dim = QUERY_FNS["scd2_build"](spark, sf_dir)
    facts = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", ts_ns_col(ev).alias("ts_ns")
    )
    out = scd2_asof_join(facts, dim, "user_id", ts_col="ts_ns")
    return out.select("event_id", "user_id", "ts_ns", "tier", "valid_from")


@query(
    "join_profile",
    """
WITH f AS (SELECT l_orderkey AS k, count(*) AS n FROM lineitem GROUP BY 1),
d AS (SELECT DISTINCT o_orderkey AS k FROM orders),
m AS (SELECT f.n FROM f JOIN d USING (k)),
o AS (SELECT f.n FROM f LEFT JOIN d USING (k) WHERE d.k IS NULL),
un AS (SELECT d.k FROM d LEFT JOIN f USING (k) WHERE f.k IS NULL)
SELECT CAST((SELECT sum(n) FROM f) AS BIGINT) AS n_facts,
       CAST(0 AS BIGINT) AS n_null_keys,
       CAST(coalesce((SELECT sum(n) FROM o), 0) AS BIGINT) AS n_orphan_facts,
       round(CAST((SELECT sum(n) FROM m) AS DOUBLE) /
             (SELECT sum(n) FROM f), 6) AS match_rate,
       CAST((SELECT count(*) FROM d) AS BIGINT) AS n_dim_keys,
       CAST((SELECT count(*) FROM un) AS BIGINT) AS n_unused_dim_keys,
       CAST((SELECT max(n) FROM m) AS BIGINT) AS max_fanout,
       round((SELECT avg(n) FROM m), 6) AS avg_fanout""",
)
def q_join_profile(spark, sf_dir):
    """Referential-integrity gate on the lineitem->orders FK: one-row
    report of orphans, unused dimension keys, match rate, and fan-out —
    every join in the profile runs on key-cardinality frames (map-side
    partial counts / distinct), never row-sized ones."""
    from ffn_polars_spark.operators.quality import join_profile

    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    return join_profile(li, o, "l_orderkey", "o_orderkey")


@query(
    "detect_gaps",
    f"""
WITH b AS (SELECT DISTINCT event_type,
                  CAST(floor(epoch_us(ts) * 1000 / {60 * 10**9}) AS BIGINT)
                    AS bucket
           FROM events),
r AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
      FROM b GROUP BY 1),
e AS (SELECT event_type, unnest(generate_series(lo, hi)) AS bucket FROM r),
g AS (SELECT e.event_type, e.bucket FROM e
      LEFT JOIN b USING (event_type, bucket) WHERE b.bucket IS NULL),
runs AS (SELECT event_type, bucket,
                bucket - row_number() OVER (PARTITION BY event_type
                                            ORDER BY bucket) AS grp
         FROM g)
SELECT event_type, CAST(min(bucket) AS BIGINT) AS gap_start_bucket,
       CAST(max(bucket) AS BIGINT) AS gap_end_bucket,
       count(*) AS n_missing
FROM runs GROUP BY event_type, grp""",
)
def q_detect_gaps(spark, sf_dir):
    """Missing minute-buckets per event type between each key's first and
    last activity, run-length merged so a long outage is one row: distinct
    buckets -> integer sequence explode of the expected range -> anti-join
    -> bucket - row_number run grouping."""
    from ffn_polars_spark.operators.quality import detect_gaps

    t = ticks(spark, sf_dir)
    return detect_gaps(
        t, ts_col="ts_ns", key_col="event_type", bucket_ns=60 * 10**9
    )


@query(
    "rolling_beta",
    TICKS_SQL
    + f"""
SELECT event_type, event_id,
       CASE WHEN count(price) OVER ({_ROLL_W}) >= 20
                 AND var_pop(price_b) OVER ({_ROLL_W}) <> 0
            THEN {R(f"covar_pop(price, price_b) OVER ({_ROLL_W}) / var_pop(price_b) OVER ({_ROLL_W})")}
       END AS price_rolling_beta
FROM ticks""",
)
def q_rolling_beta(spark, sf_dir):
    """Rolling OLS beta (hedge ratio) of price vs price_b over a 20-row
    trailing window: covar_pop/var_pop with a zero-variance guard, same
    single-exchange windowed shape as rolling_corr."""
    t = ticks(spark, sf_dir)
    return t.select(
        "event_type",
        "event_id",
        r6(ffn.eod.rolling_beta("price", "price_b", 20, over=TICK_OVER)).alias(
            "price_rolling_beta"
        ),
    )


@query(
    "winsorize",
    """
WITH c AS (SELECT event_type,
                  quantile_cont(value, 0.01) AS lo,
                  quantile_cont(value, 0.99) AS hi
           FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, e.value,
       least(greatest(e.value, c.lo), c.hi) AS value_winsorized
FROM events e JOIN c USING (event_type)""",
)
def q_winsorize(spark, sf_dir):
    """Percentile clipping into each event type's [p1, p99] band: one
    exact-percentile aggregate broadcast-joined back + a greatest/least
    projection — the big side never shuffles. Clipped values are either
    the original or the interpolated percentile, both engine-identical,
    so no rounding is needed."""
    from ffn_polars_spark.operators.sketch import winsorize

    ev = read_table(spark, sf_dir, "events")
    out = winsorize(
        ev.select("event_id", "event_type", "value"),
        "value", group_by=["event_type"], lower=0.01, upper=0.99,
    )
    return out.select("event_id", "event_type", "value", "value_winsorized")


@query(
    "kfold_assign",
    """
SELECT doc_id,
       CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
            % 5 AS INT) AS fold
FROM documents""",
)
def q_kfold_assign(spark, sf_dir):
    """Deterministic 5-fold cross-validation assignment: md5-of-id mod k,
    the same engine-portable idiom as deterministic_split — zero shuffle,
    folds replayable by any engine with md5."""
    from ffn_polars_spark.operators.pipeline import kfold_assign

    docs = read_table(spark, sf_dir, "documents")
    return kfold_assign(docs, k=5).select("doc_id", "fold")


@query(
    "time_split",
    f"""
WITH e AS (SELECT event_id, epoch_us(ts) * 1000 AS ts_ns FROM events),
c AS (SELECT quantile_cont(ts_ns, 0.8) AS cutoff FROM e)
SELECT e.event_id, e.ts_ns,
       CASE WHEN e.ts_ns < c.cutoff THEN 'train' ELSE 'test' END AS split,
       {R("c.cutoff")} AS cutoff_ts
FROM e, c""",
)
def q_time_split(spark, sf_dir):
    """Leakage-safe temporal 80/20 split: exact time-quantile cutoff
    broadcast back as a 1-row frame, assignment by comparison — the
    corpus never shuffles. The cutoff rides along so the boundary is
    auditable in the output."""
    from ffn_polars_spark.operators.pipeline import time_split

    ev = read_table(spark, sf_dir, "events")
    out = time_split(
        ev.select("event_id", ts_ns_col(ev).alias("ts_ns")), train_frac=0.8
    )
    return out.select("event_id", "ts_ns", "split", "cutoff_ts")


@query(
    "label_stats",
    """
WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
t AS (SELECT sum(n) AS tot FROM c),
p AS (SELECT c.label, c.n, CAST(c.n AS DOUBLE) / t.tot AS p FROM c, t),
h AS (SELECT -sum(p * log2(p)) AS ent FROM p)
SELECT p.label, CAST(p.n AS BIGINT) AS n, round(p.p, 6) AS frac,
       round(h.ent, 6) AS entropy_bits
FROM p, h""",
)
def q_label_stats(spark, sf_dir):
    """Class-balance report on the embeddings labels: per-label counts and
    frequencies plus the dataset's label entropy in bits (repeated per
    row for a self-contained report) — one label-keyed aggregate and two
    1-row broadcasts."""
    from ffn_polars_spark.operators.pipeline import label_stats

    emb = read_table(spark, sf_dir, "embeddings")
    return label_stats(emb, "label")


@query(
    "calc_var_cvar",
    TICKS_SQL
    + f""",
r AS (SELECT event_type,
             price / lag(price) OVER ({W}) - 1 AS ret
      FROM ticks),
rr AS (SELECT event_type, ret FROM r WHERE ret IS NOT NULL),
q AS (SELECT event_type, quantile_cont(ret, 0.05) AS v
      FROM rr GROUP BY event_type)
SELECT rr.event_type, count(rr.ret) AS n,
       round(max(q.v), 6) AS var,
       round(avg(CASE WHEN rr.ret <= q.v THEN rr.ret END), 6) AS cvar,
       CAST(count(CASE WHEN rr.ret <= q.v THEN 1 END) AS BIGINT) AS n_tail
FROM rr JOIN q USING (event_type) GROUP BY rr.event_type""",
)
def q_calc_var_cvar(spark, sf_dir):
    """Historical VaR (5% interpolated quantile) and CVaR (mean of the
    tail at-or-below it) per event type on tick returns: one exact
    percentile aggregate broadcast back + one conditional aggregate."""
    from ffn_polars_spark.functions.eod_risk import calc_var_cvar

    t = ticks(spark, sf_dir)
    r = t.select(
        "event_type",
        ffn.eod.to_returns("price", over=TICK_OVER).alias("ret"),
    ).where(F.col("ret").isNotNull())
    return calc_var_cvar(r, "ret", group_by="event_type", alpha=0.05)


@query(
    "autocorr",
    TICKS_SQL
    + f""",
r AS (SELECT event_type, ts_ns, event_id,
             price / lag(price) OVER ({W}) - 1 AS ret
      FROM ticks),
rr AS (SELECT event_type, ts_ns, event_id, ret FROM r WHERE ret IS NOT NULL),
lagged AS (SELECT event_type, ret,
                  lag(ret, 1) OVER ({W}) AS l1,
                  lag(ret, 2) OVER ({W}) AS l2,
                  lag(ret, 3) OVER ({W}) AS l3
           FROM rr)
SELECT event_type, CAST(1 AS INT) AS lag, count(l1) AS n,
       round(covar_pop(CASE WHEN l1 IS NOT NULL THEN ret END, l1) / (stddev_pop(CASE WHEN l1 IS NOT NULL THEN ret END) * stddev_pop(l1)), 6) AS acf
FROM lagged GROUP BY event_type
UNION ALL
SELECT event_type, CAST(2 AS INT), count(l2),
       round(covar_pop(CASE WHEN l2 IS NOT NULL THEN ret END, l2) / (stddev_pop(CASE WHEN l2 IS NOT NULL THEN ret END) * stddev_pop(l2)), 6)
FROM lagged GROUP BY event_type
UNION ALL
SELECT event_type, CAST(3 AS INT), count(l3),
       round(covar_pop(CASE WHEN l3 IS NOT NULL THEN ret END, l3) / (stddev_pop(CASE WHEN l3 IS NOT NULL THEN ret END) * stddev_pop(l3)), 6)
FROM lagged GROUP BY event_type""",
)
def q_autocorr(spark, sf_dir):
    """Return autocorrelation at lags 1-3 per event type: one ordered
    window produces every lagged column in a single pass, one aggregate
    emits a row per lag; guarded population moments (NULL on zero
    variance) keep it ANSI-safe."""
    from ffn_polars_spark.functions.tick_price import autocorr

    t = ticks(spark, sf_dir)
    r = t.select(
        "event_type",
        "ts_ns",
        "event_id",
        ffn.eod.to_returns("price", over=TICK_OVER).alias("ret"),
    ).where(F.col("ret").isNotNull())
    return autocorr(
        r, "ret", by="event_type", order_by=["ts_ns", "event_id"], max_lag=3
    )


@query(
    "pmi_collocations",
    r"""
WITH tok AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token,
         generate_subscripts(string_split_regex(trim(lower(text)), '\s+'), 1)
           AS pos
  FROM documents),
t AS (SELECT doc_id, pos, token FROM tok WHERE token <> ''),
p AS (SELECT doc_id,
             lag(token) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
             token
      FROM t),
pr AS (SELECT prev, token FROM p WHERE prev IS NOT NULL),
bc AS (SELECT prev, token, count(*) AS n FROM pr GROUP BY prev, token
       HAVING count(*) >= 3),
lft AS (SELECT prev, sum(n) AS cl FROM bc GROUP BY prev),
rgt AS (SELECT token, sum(n) AS cr FROM bc GROUP BY token),
tot AS (SELECT sum(n) AS N FROM bc)
SELECT bc.prev, bc.token, bc.n,
       round(ln(CAST(bc.n AS DOUBLE) * tot.N / (lft.cl * rgt.cr)), 6) AS pmi
FROM bc JOIN lft USING (prev) JOIN rgt USING (token), tot
ORDER BY pmi DESC, prev, token LIMIT 50""",
)
def q_pmi_collocations(spark, sf_dir):
    """Top-50 collocations by PMI over adjacent token pairs (min count 3):
    shared bigram build, marginals derived from the pair counts, 1-row
    total broadcast, deterministic top-k."""
    from ffn_polars_spark.operators.text import pmi_collocations

    docs = read_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, k=50, min_count=3)


@query(
    "snapshot_diff",
    """
WITH old AS (SELECT doc_id, md5(text) AS ho FROM documents
             WHERE doc_id % 10 <> 0),
new AS (SELECT doc_id,
               md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END)
                 AS hn
        FROM documents WHERE doc_id % 9 <> 0)
SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
       CASE WHEN old.ho IS NULL THEN 'added'
            WHEN new.hn IS NULL THEN 'removed'
            WHEN old.ho = new.hn THEN 'unchanged'
            ELSE 'changed' END AS status
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id""",
)
def q_snapshot_diff(spark, sf_dir):
    """Corpus version diff between two deterministic snapshot views of the
    documents table (v1 drops ids % 10 = 0; v2 drops ids % 9 = 0 and
    appends ' v2' to ids % 7 = 0): md5 fingerprints computed map-side,
    one full-outer equi-join on the id — so added/removed/changed/
    unchanged are all exercised."""
    from ffn_polars_spark.operators.quality import snapshot_diff

    docs = read_table(spark, sf_dir, "documents")
    v1 = docs.where(F.col("doc_id") % 10 != 0)
    v2 = docs.where(F.col("doc_id") % 9 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(v1, v2)


@query(
    "rolling_median",
    TICKS_SQL
    + f"""
SELECT event_type, event_id,
       CASE WHEN count(price) OVER ({_ROLL_W}) >= 20
            THEN {R(f"quantile_cont(price, 0.5) OVER ({_ROLL_W})")}
       END AS price_rolling_median
FROM ticks""",
)
def q_rolling_median(spark, sf_dir):
    """Rolling exact median over a 20-row trailing window: the robust
    smoother a fat-fingered print cannot drag; F.percentile and windowed
    quantile_cont share the SQL-standard interpolation."""
    t = ticks(spark, sf_dir)
    return t.select(
        "event_type",
        "event_id",
        r6(
            ffn.eod.rolling_median("price", 20, over=TICK_OVER)
        ).alias("price_rolling_median"),
    )


@query(
    "feature_scale",
    """
WITH s AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd,
                  min(value) AS lo, max(value) AS hi
           FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, e.value,
       round(CASE WHEN s.sd <> 0 THEN (e.value - s.mu) / s.sd END, 6)
         AS value_zscore,
       round(CASE WHEN s.hi - s.lo <> 0
                  THEN (e.value - s.lo) / (s.hi - s.lo) END, 6)
         AS value_minmax
FROM events e JOIN s USING (event_type)""",
)
def q_feature_scale(spark, sf_dir):
    """Per-type standardization and min-max scaling in one pass: one
    moments aggregate broadcast back + a projection; degenerate groups
    (zero variance / zero range) yield NULL, not an ANSI error."""
    from ffn_polars_spark.operators.sketch import feature_scale

    ev = read_table(spark, sf_dir, "events")
    out = feature_scale(
        ev.select("event_id", "event_type", "value"),
        "value", group_by=["event_type"],
    )
    return out.select(
        "event_id", "event_type", "value", "value_zscore", "value_minmax"
    )


@query(
    "weighted_sample",
    """
SELECT doc_id, source, n_chars FROM documents
WHERE n_chars > 0
ORDER BY (ln(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wsample:0'), 18, 15))::BIGINT
          / 1152921504606846976.0) / n_chars) DESC, doc_id
LIMIT 50""",
)
def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sample (Efraimidis-Spirakis): 50 documents
    with inclusion probability proportional to n_chars, keys ln(u)/w on
    md5 uniforms — replayable by any engine, TakeOrderedAndProject plan
    (no global sort)."""
    from ffn_polars_spark.operators.sketch import weighted_sample

    docs = read_table(spark, sf_dir, "documents")
    out = weighted_sample(docs, 50, weight_col="n_chars")
    return out.select("doc_id", "source", "n_chars")


@query(
    "scrub_spans",
    f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
sp AS (
  SELECT doc_id, pos, word,
         CASE WHEN lead(word, 4) OVER win IS NOT NULL THEN
           concat_ws(' ', word, lead(word, 1) OVER win, lead(word, 2) OVER win,
                     lead(word, 3) OVER win, lead(word, 4) OVER win)
         END AS span
  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
),
dup AS (
  SELECT span FROM (
    SELECT DISTINCT doc_id, {_H('span')} AS span FROM sp WHERE span IS NOT NULL)
  GROUP BY span HAVING count(*) >= 2
),
fl AS (
  SELECT sp.doc_id, sp.pos, sp.word,
         CASE WHEN dup.span IS NOT NULL THEN 1 ELSE 0 END AS ds
  FROM sp LEFT JOIN dup ON {_H('sp.span')} = dup.span
),
cov AS (
  SELECT doc_id, pos, word,
         max(ds) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS c
  FROM fl
)
SELECT doc_id,
       coalesce(string_agg(word, ' ' ORDER BY pos) FILTER (WHERE c = 0), '')
         AS text_clean,
       count(*) AS n_words,
       CAST(sum(c) AS BIGINT) AS n_removed
FROM cov GROUP BY doc_id ORDER BY doc_id""",
)
def q_scrub_spans(spark, sf_dir):
    """Substring-level dedup APPLIED (ExactSubstr shape, Lee et al. 2022):
    every word covered by a 5-word span occurring in >= 2 distinct
    documents is scrubbed and the text reassembled. lead()-built spans,
    distinct+groupBy document frequency, windowed running-max coverage —
    no self-join, nothing quadratic."""
    from ffn_polars_spark.operators.text import scrub_spans

    docs = read_table(spark, sf_dir, "documents")
    return scrub_spans(docs, width=5, min_docs=2, hash_fn="md5")


@query(
    "cap_per_group",
    """
SELECT doc_id, text, lang, source, n_chars FROM documents
QUALIFY row_number() OVER (
  PARTITION BY source
  ORDER BY (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cap:0'), 18, 15))::BIGINT
            / 1152921504606846976.0), doc_id) <= 10
ORDER BY source, doc_id""",
)
def q_cap_per_group(spark, sf_dir):
    """Deterministic per-source document cap (domain capping before
    training-data mixing): at most 10 docs per source, chosen by md5
    uniform of doc_id — engine-replayable, one row_number window, no
    join."""
    from ffn_polars_spark.operators.pipeline import cap_per_group

    docs = read_table(spark, sf_dir, "documents")
    return cap_per_group(docs, 10, group_col="source")


@query(
    "amihud_illiquidity",
    TICKS_SQL
    + f"""
, il AS (
  SELECT event_type,
         CASE WHEN price * volume > 0 THEN
           abs(price / lag(price) OVER ({W}) - 1) / (price * volume)
         END AS illiq
  FROM ticks
)
SELECT event_type,
       {R("avg(illiq) * 1000000.0")} AS amihud,
       count(illiq) AS n_obs
FROM il GROUP BY event_type""",
)
def q_amihud_illiquidity(spark, sf_dir):
    """Amihud (2002) illiquidity per event_type: mean of |r_t|/(p_t*v_t)
    x 1e6 — one lag window + one hash aggregate, single exchange."""
    from ffn_polars_spark.functions.tick_price import amihud_illiquidity

    t = ticks(spark, sf_dir)
    out = amihud_illiquidity(
        t, "price", "volume", by="event_type", order_by=["ts_ns", "event_id"]
    )
    return out.select("event_type", r6("amihud").alias("amihud"), "n_obs")


@query(
    "roll_spread",
    TICKS_SQL
    + f"""
, d AS (
  SELECT event_type, ts_ns, event_id,
         price - lag(price) OVER ({W}) AS dp
  FROM ticks
), d2 AS (
  SELECT event_type, dp, lag(dp) OVER ({W}) AS dpl FROM d
)
SELECT event_type,
       {R("CASE WHEN covar_samp(dp, dpl) < 0 THEN 2 * sqrt(-covar_samp(dp, dpl)) END")} AS roll_spread,
       {R("covar_samp(dp, dpl)")} AS serial_cov,
       count(CASE WHEN dpl IS NOT NULL THEN 1 END) AS n_obs
FROM d2 GROUP BY event_type""",
)
def q_roll_spread(spark, sf_dir):
    """Roll (1984) implied effective spread per event_type:
    2*sqrt(-cov(dp_t, dp_{t-1})), NULL when serial covariance is
    non-negative — one ordered window pass + map-side covar_samp."""
    from ffn_polars_spark.functions.tick_price import roll_spread

    t = ticks(spark, sf_dir)
    out = roll_spread(t, "price", by="event_type", order_by=["ts_ns", "event_id"])
    return out.select(
        "event_type",
        r6("roll_spread").alias("roll_spread"),
        r6("serial_cov").alias("serial_cov"),
        "n_obs",
    )


@query(
    "kyle_lambda",
    TICKS_SQL
    + f"""
, d AS (
  SELECT event_type,
         price - lag(price) OVER ({W}) AS dp,
         CASE WHEN price > lag(price) OVER ({W}) THEN 1.0
              WHEN price < lag(price) OVER ({W}) THEN -1.0
              ELSE 0.0 END * volume AS sv
  FROM ticks
)
SELECT event_type,
       {R("CASE WHEN var_samp(sv) > 0 THEN covar_samp(dp, sv) / var_samp(sv) END")} AS kyle_lambda,
       {R("corr(dp, sv) * corr(dp, sv)")} AS r2,
       count(CASE WHEN dp IS NOT NULL THEN 1 END) AS n_obs
FROM d GROUP BY event_type""",
)
def q_kyle_lambda(spark, sf_dir):
    """Kyle (1985) price-impact lambda per event_type: cov(dp, signed
    volume)/var(signed volume) with tick-rule directions — one window
    pass, one hash aggregate."""
    from ffn_polars_spark.functions.tick_price import kyle_lambda

    t = ticks(spark, sf_dir)
    out = kyle_lambda(
        t, "price", "volume", by="event_type", order_by=["ts_ns", "event_id"]
    )
    return out.select(
        "event_type",
        r6("kyle_lambda").alias("kyle_lambda"),
        r6("r2").alias("r2"),
        "n_obs",
    )


@query(
    "gini_by_group",
    """
WITH ranked AS (
  SELECT source, CAST(n_chars AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY source
                            ORDER BY CAST(n_chars AS DOUBLE) ASC, doc_id ASC) AS i
  FROM documents
)
SELECT source,
       """
    + R(
        "CASE WHEN sum(v) > 0 THEN 2.0 * sum(i * v) / (count(*) * sum(v))"
        " - (count(*) + 1.0) / count(*) END"
    )
    + """ AS gini,
       count(*) AS n,
       """
    + R("sum(v)")
    + """ AS total
FROM ranked GROUP BY source""",
)
def q_gini_by_group(spark, sf_dir):
    """Gini coefficient of document length inside each source (corpus
    balance diagnostic): rank identity over one row_number window + one
    same-key aggregate, no join."""
    from ffn_polars_spark.operators.quality import gini_by_group

    docs = read_table(spark, sf_dir, "documents")
    out = gini_by_group(docs, "n_chars", group_col="source")
    return out.select(
        "source", r6("gini").alias("gini"), "n", r6("total").alias("total")
    )


@query(
    "zipf_slope",
    f"""
WITH vocab AS (
  SELECT tok, count(*) AS f FROM (
    SELECT unnest({TOKS_SQL}) AS tok FROM documents
  ) WHERE tok <> '' GROUP BY tok
),
ranked AS (
  SELECT ln(CAST(f AS DOUBLE)) AS lf,
         ln(CAST(row_number() OVER (ORDER BY f DESC, tok ASC) AS DOUBLE)) AS lr
  FROM vocab
)
SELECT {R("CASE WHEN var_samp(lr) > 0 THEN covar_samp(lr, lf) / var_samp(lr) END")} AS zipf_slope,
       {R("avg(lf) - (CASE WHEN var_samp(lr) > 0 THEN covar_samp(lr, lf) / var_samp(lr) END) * avg(lr)")} AS zipf_intercept,
       {R("corr(lr, lf) * corr(lr, lf)")} AS r2,
       count(*) AS vocab_size
FROM ranked""",
)
def q_zipf_slope(spark, sf_dir):
    """Zipf-law fit of the corpus vocabulary: OLS slope of ln(freq) on
    ln(rank) — vocabulary counts in one explode+groupBy, rank from one
    global window over the (small) vocabulary."""
    from ffn_polars_spark.operators.text import zipf_slope

    docs = read_table(spark, sf_dir, "documents")
    out = zipf_slope(docs)
    return out.select(
        r6("zipf_slope").alias("zipf_slope"),
        r6("zipf_intercept").alias("zipf_intercept"),
        r6("r2").alias("r2"),
        "vocab_size",
    )


@query(
    "centroid_similarity",
    """
WITH e AS (
  SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings
),
c AS (
  SELECT label, dim, avg(CAST(v AS DOUBLE)) AS mu FROM e GROUP BY label, dim
),
n AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
p AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(a.mu * b.mu) AS dot,
         sqrt(sum(a.mu * a.mu)) AS na,
         sqrt(sum(b.mu * b.mu)) AS nb
  FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT p.label_a, p.label_b,
       """
    + R("CASE WHEN na * nb > 0 THEN dot / (na * nb) END")
    + """ AS cosine,
       x.n AS n_a, y.n AS n_b
FROM p JOIN n x ON x.label = p.label_a JOIN n y ON y.label = p.label_b""",
)
def q_centroid_similarity(spark, sf_dir):
    """Pairwise cosine between per-label embedding centroids: one
    posexplode + (label, dim) average (map-side partial agg bounds the
    shuffle), then a broadcast dim-join over the cardinality-bounded
    centroid table."""
    from ffn_polars_spark.operators.similarity import centroid_similarity

    emb = read_table(spark, sf_dir, "embeddings")
    out = centroid_similarity(emb)
    return out.select(
        "label_a", "label_b", r6("cosine").alias("cosine"), "n_a", "n_b"
    )


@query(
    "vpin",
    TICKS_SQL
    + f""", d AS (
  SELECT event_type, volume,
         CASE WHEN price > lag(price) OVER ({W}) THEN 1.0
              WHEN price < lag(price) OVER ({W}) THEN -1.0
              ELSE 0.0 END * volume AS sv,
         sum(volume) OVER ({WR}) - volume AS prev_cum
  FROM ticks
), b AS (
  SELECT event_type, CAST(floor(prev_cum / 5000.0) AS BIGINT) AS bucket,
         sum(sv) AS imb, sum(volume) AS vol
  FROM d GROUP BY 1, 2
)
SELECT event_type,
       {R("avg(CASE WHEN vol > 0 THEN abs(imb) / vol END)")} AS vpin,
       count(*) AS n_buckets,
       {R("sum(vol)")} AS total_volume
FROM b GROUP BY event_type""",
)
def q_vpin(spark, sf_dir):
    """VPIN order-flow toxicity (Easley/Lopez de Prado/O'Hara 2012):
    tick-rule signed volume in equal-volume buckets, mean
    |imbalance|/volume per key — one window pass, bucket agg, tiny key
    agg."""
    from ffn_polars_spark.functions.tick_bars import vpin

    t = ticks(spark, sf_dir)
    out = vpin(
        t, "ts_ns", "price", "volume", by=["event_type"],
        volume_per_bucket=5000.0,
    )
    return out.select(
        "event_type",
        r6("vpin").alias("vpin"),
        "n_buckets",
        r6("total_volume").alias("total_volume"),
    )


@query(
    "corwin_schultz",
    _BARS_SQL
    + f""", p AS (
  SELECT event_type,
         pow(ln(high / low), 2)
           + pow(ln(lead(high) OVER wb / lead(low) OVER wb), 2) AS beta,
         pow(ln(greatest(high, lead(high) OVER wb)
                / least(low, lead(low) OVER wb)), 2) AS gamma
  FROM bars WINDOW wb AS (PARTITION BY event_type ORDER BY bar_ts)
), a AS (
  SELECT event_type,
         (sqrt(2 * beta) - sqrt(beta)) / (3 - 2 * sqrt(2))
           - sqrt(gamma / (3 - 2 * sqrt(2))) AS alpha
  FROM p WHERE beta IS NOT NULL
)
SELECT event_type,
       {R("avg(greatest(2 * (exp(alpha) - 1) / (1 + exp(alpha)), 0.0))")} AS cs_spread,
       count(*) AS n_pairs
FROM a GROUP BY event_type""",
)
def q_corwin_schultz(spark, sf_dir):
    """Corwin-Schultz (2012) high-low spread estimator over hourly bars:
    one lead window on the (small) bar frame + per-key average."""
    from ffn_polars_spark.functions.tick_bars import corwin_schultz, time_bars

    t = ticks(spark, sf_dir)
    bars = time_bars(
        t, "ts_ns", "price", "volume", by=["event_type"],
        bar_ns=3_600_000_000_000,
    )
    out = corwin_schultz(bars, by=["event_type"])
    return out.select(
        "event_type", r6("cs_spread").alias("cs_spread"), "n_pairs"
    )


@query(
    "doc_entropy",
    f"""
WITH u AS (
  SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c FROM (
    SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents
  ) WHERE tok <> '' GROUP BY doc_id, tok
)
SELECT doc_id,
       {R("ln(sum(c)) - sum(c * ln(c)) / sum(c)")} AS entropy,
       CAST(sum(c) AS BIGINT) AS n_units,
       count(*) AS n_distinct
FROM u GROUP BY doc_id""",
)
def q_doc_entropy(spark, sf_dir):
    """Per-document unigram Shannon entropy (repetitiveness filter,
    Gopher-rules family) via the count identity ln(N) - sum(c ln c)/N —
    two doc-keyed aggregates, no normalization join."""
    from ffn_polars_spark.operators.text import doc_entropy

    docs = read_table(spark, sf_dir, "documents")
    out = doc_entropy(docs, unit="word")
    return out.select(
        "doc_id", r6("entropy").alias("entropy"), "n_units", "n_distinct"
    )


@query(
    "ks_drift",
    f"""
WITH s AS (
  SELECT value,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY value
), c AS (
  SELECT sum(ca) OVER (ORDER BY value) AS cca,
         sum(cb) OVER (ORDER BY value) AS ccb
  FROM s
), t AS (
  SELECT CAST(sum(ca) AS DOUBLE) AS na, CAST(sum(cb) AS DOUBLE) AS nb,
         count(*) AS nv
  FROM s
)
SELECT {R("max(abs(cca / na - ccb / nb))")} AS ks_stat,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       nv AS n_values
FROM c, t GROUP BY na, nb, nv""",
)
def q_ks_drift(spark, sf_dir):
    """Two-sample KS statistic between click and view value
    distributions: tie-collapsed distinct-value ECDFs, cumulative counts
    via the distributed ranged_cumsum idiom (no single-partition
    window)."""
    from ffn_polars_spark.operators.quality import ks_drift

    ev = read_table(spark, sf_dir, "events")
    out = ks_drift(ev, "value", "event_type", "click", "view")
    return out.select(
        r6("ks_stat").alias("ks_stat"), "n_a", "n_b", "n_values"
    )


@query(
    "vocab_jsd",
    f"""
WITH c AS (
  SELECT tok,
         sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS cb
  FROM (
    SELECT source, unnest({TOKS_SQL}) AS tok FROM documents
    WHERE source IN ('src0', 'src1')
  ) WHERE tok <> '' GROUP BY tok
), t AS (
  SELECT CAST(sum(ca) AS DOUBLE) AS na, CAST(sum(cb) AS DOUBLE) AS nb FROM c
), terms AS (
  SELECT ca / na AS p, cb / nb AS q, na, nb FROM c, t
)
SELECT {R("sum(coalesce(CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) / 2.0)) END, 0.0)"
          " + coalesce(CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p + q) / 2.0)) END, 0.0))")} AS jsd,
       CAST(max(na) AS BIGINT) AS n_tokens_a,
       CAST(max(nb) AS BIGINT) AS n_tokens_b,
       count(*) AS vocab_union
FROM terms""",
)
def q_vocab_jsd(spark, sf_dir):
    """Jensen-Shannon divergence between src0 and src1 unigram
    distributions: one tokenize-explode into a token aggregate carrying
    both sides, broadcast totals, one sum — vocabulary-drift gate."""
    from ffn_polars_spark.operators.text import vocab_jsd

    docs = read_table(spark, sf_dir, "documents")
    out = vocab_jsd(docs, "source", "src0", "src1")
    return out.select(
        r6("jsd").alias("jsd"), "n_tokens_a", "n_tokens_b", "vocab_union"
    )


@query(
    "psi_drift",
    f"""
WITH c AS (
  SELECT least(greatest(CAST(floor(value / 2.0) AS BIGINT), 0), 9) AS bin,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY 1
), t AS (
  SELECT CAST(sum(ca) AS DOUBLE) AS na, CAST(sum(cb) AS DOUBLE) AS nb FROM c
), s AS (
  SELECT greatest(ca / na, 1e-6) AS p, greatest(cb / nb, 1e-6) AS q, na, nb
  FROM c, t
)
SELECT {R("sum((p - q) * ln(p / q))")} AS psi,
       CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
       count(*) AS n_bins_used
FROM s""",
)
def q_psi_drift(spark, sf_dir):
    """Population Stability Index between click and view value
    distributions over 10 fixed-width bins (lo=0, width=2) — one bin
    aggregate carrying both sides, broadcast totals, one sum."""
    from ffn_polars_spark.operators.quality import psi_drift

    ev = read_table(spark, sf_dir, "events")
    out = psi_drift(
        ev, "value", "event_type", "click", "view", lo=0.0, width=2.0,
        nbins=10,
    )
    return out.select(r6("psi").alias("psi"), "n_a", "n_b", "n_bins_used")


@query(
    "portfolio_returns",
    _BARS_SQL
    + f""", r AS (
  SELECT event_type, bar_ts,
         close / lag(close) OVER (PARTITION BY event_type ORDER BY bar_ts) - 1 AS ret
  FROM bars
), wtd AS (
  SELECT bar_ts AS ts, ret,
         CASE event_type WHEN 'click' THEN 0.4 WHEN 'view' THEN 0.3
              WHEN 'purchase' THEN 0.2 WHEN 'error' THEN 0.1 END AS w
  FROM r
)
SELECT ts,
       {R("sum(w * ret) / sum(w)")} AS portfolio_return,
       count(*) AS n_assets
FROM wtd WHERE w IS NOT NULL AND ret IS NOT NULL GROUP BY ts""",
)
def q_portfolio_returns(spark, sf_dir):
    """Daily-rebalanced portfolio returns over four event-type 'assets'
    (hourly-bar close returns, fixed target weights, renormalized over
    present assets): in-plan literal weight map, no join, one ts
    aggregate."""
    from ffn_polars_spark.functions.eod_returns import portfolio_returns
    from ffn_polars_spark.functions.tick_bars import time_bars
    from pyspark.sql.window import Window as _W

    t = ticks(spark, sf_dir)
    bars = time_bars(
        t, "ts_ns", "price", "volume", by=["event_type"],
        bar_ns=3_600_000_000_000,
    )
    w = _W.partitionBy("event_type").orderBy("bar_ts")
    rets = bars.select(
        "event_type",
        "bar_ts",
        (F.col("close") / F.lag("close").over(w) - 1).alias("ret"),
    )
    out = portfolio_returns(
        rets,
        {"click": 0.4, "view": 0.3, "purchase": 0.2, "error": 0.1},
        key_col="event_type",
        ts_col="bar_ts",
        return_col="ret",
    )
    return out.select(
        "ts", r6("portfolio_return").alias("portfolio_return"), "n_assets"
    )


@query(
    "portfolio_turnover",
    _BARS_SQL
    + f""", r AS (
  SELECT event_type, bar_ts,
         close / lag(close) OVER (PARTITION BY event_type ORDER BY bar_ts) - 1 AS ret
  FROM bars
), wtd AS (
  SELECT bar_ts AS ts, ret,
         CASE event_type WHEN 'click' THEN 0.4 WHEN 'view' THEN 0.3
              WHEN 'purchase' THEN 0.2 WHEN 'error' THEN 0.1 END AS w
  FROM r WHERE ret IS NOT NULL
), s AS (
  SELECT ts, w, ret,
         sum(w) OVER (PARTITION BY ts) AS sw,
         sum(w * (1.0 + ret)) OVER (PARTITION BY ts) AS swg,
         sum(w * ret) OVER (PARTITION BY ts) AS swr
  FROM wtd WHERE w IS NOT NULL
), g AS (
  SELECT ts, max(swr / sw) AS pr,
         0.5 * sum(abs(w / sw - CASE WHEN swg <> 0
                                     THEN w * (1.0 + ret) / swg END)) AS tn,
         count(*) AS n_assets
  FROM s GROUP BY ts
)
SELECT ts, {R("pr")} AS portfolio_return, {R("tn")} AS turnover,
       {R("pr - (10.0 / 10000.0) * tn")} AS net_return, n_assets
FROM g""",
)
def q_portfolio_turnover(spark, sf_dir):
    """Rebalance turnover and cost-adjusted net returns for the same
    four-asset hourly-bar portfolio as portfolio_returns: drifted weights
    vs target, 10 bps one-way cost — literal weight map, no join, the
    per-ts window reuses the aggregate's partitioning."""
    from ffn_polars_spark.functions.eod_returns import portfolio_turnover
    from ffn_polars_spark.functions.tick_bars import time_bars
    from pyspark.sql.window import Window as _W

    t = ticks(spark, sf_dir)
    bars = time_bars(
        t, "ts_ns", "price", "volume", by=["event_type"],
        bar_ns=3_600_000_000_000,
    )
    w = _W.partitionBy("event_type").orderBy("bar_ts")
    rets = bars.select(
        "event_type",
        "bar_ts",
        (F.col("close") / F.lag("close").over(w) - 1).alias("ret"),
    )
    out = portfolio_turnover(
        rets,
        {"click": 0.4, "view": 0.3, "purchase": 0.2, "error": 0.1},
        key_col="event_type",
        ts_col="bar_ts",
        return_col="ret",
        cost_bps=10.0,
    )
    return out.select(
        "ts", r6("portfolio_return").alias("portfolio_return"),
        r6("turnover").alias("turnover"),
        r6("net_return").alias("net_return"), "n_assets",
    )


@query(
    "omega_ratio",
    RETS_SQL
    + f"""
SELECT event_type,
       {R("CASE WHEN sum(greatest(0.0 - r, 0.0)) > 0 THEN"
          " sum(greatest(r - 0.0, 0.0)) / sum(greatest(0.0 - r, 0.0)) END")} AS r_omega
FROM rets GROUP BY event_type""",
)
def q_omega_ratio(spark, sf_dir):
    """Omega ratio at threshold 0 per event_type: probability-weighted
    gain mass over loss mass — one conditional-sum aggregate."""
    t = rets(spark, sf_dir)
    return t.groupBy("event_type").agg(
        r6(ffn.eod.omega_ratio("r")).alias("r_omega")
    )


@query(
    "capture_ratios",
    RETS_SQL
    + f"""
SELECT event_type,
       {R("CASE WHEN avg(CASE WHEN r IS NOT NULL AND rb > 0 THEN rb END) != 0 THEN"
          " avg(CASE WHEN r IS NOT NULL AND rb > 0 THEN r END)"
          " / avg(CASE WHEN r IS NOT NULL AND rb > 0 THEN rb END) END")} AS up_capture,
       {R("CASE WHEN avg(CASE WHEN r IS NOT NULL AND rb < 0 THEN rb END) != 0 THEN"
          " avg(CASE WHEN r IS NOT NULL AND rb < 0 THEN r END)"
          " / avg(CASE WHEN r IS NOT NULL AND rb < 0 THEN rb END) END")} AS down_capture,
       count(CASE WHEN r IS NOT NULL AND rb > 0 THEN 1 END) AS n_up,
       count(CASE WHEN r IS NOT NULL AND rb < 0 THEN 1 END) AS n_down
FROM rets GROUP BY event_type""",
)
def q_capture_ratios(spark, sf_dir):
    """Up/down capture of the price series against the price_b benchmark
    per event_type — one conditional-sum hash aggregate, no window, no
    join."""
    from ffn_polars_spark.functions.eod_ratios import capture_ratios

    t = rets(spark, sf_dir)
    out = capture_ratios(t, "r", "rb", by="event_type")
    return out.select(
        "event_type",
        r6("up_capture").alias("up_capture"),
        r6("down_capture").alias("down_capture"),
        "n_up",
        "n_down",
    )


@query(
    "return_stats",
    RETS_SQL
    + f"""
, m AS (
  SELECT event_type, count(r) AS n, avg(r) AS e1, avg(r * r) AS e2,
         avg(r * r * r) AS e3, avg(r * r * r * r) AS e4,
         stddev_samp(r) AS vol, max(r) AS best, min(r) AS worst,
         count(CASE WHEN r > 0 THEN 1 END) AS wins
  FROM rets GROUP BY event_type
)
SELECT event_type, n, {R("e1")} AS mean, {R("vol")} AS vol,
       {R("CASE WHEN e2 - e1 * e1 > 0 THEN"
          " (e3 - 3 * e1 * e2 + 2 * e1 * e1 * e1) / pow(e2 - e1 * e1, 1.5) END")} AS skew,
       {R("CASE WHEN e2 - e1 * e1 > 0 THEN"
          " (e4 - 4 * e1 * e3 + 6 * e1 * e1 * e2 - 3 * e1 * e1 * e1 * e1)"
          " / ((e2 - e1 * e1) * (e2 - e1 * e1)) - 3 END")} AS kurt_excess,
       {R("best")} AS best, {R("worst")} AS worst,
       {R("CAST(wins AS DOUBLE) / n")} AS win_rate
FROM m""",
)
def q_return_stats(spark, sf_dir):
    """Distribution panel per event_type — count/mean/vol/skew/excess
    kurtosis/best/worst/win rate from formula-pinned population moments,
    one hash aggregate."""
    from ffn_polars_spark.functions.eod_risk import return_stats

    t = rets(spark, sf_dir)
    out = return_stats(t, "r", by="event_type")
    return out.select(
        "event_type", "n", r6("mean").alias("mean"), r6("vol").alias("vol"),
        r6("skew").alias("skew"), r6("kurt_excess").alias("kurt_excess"),
        r6("best").alias("best"), r6("worst").alias("worst"),
        r6("win_rate").alias("win_rate"),
    )


@query(
    "streak_stats",
    TICKS_SQL
    + f"""
, rr AS (
  SELECT event_type, ts_ns, event_id,
         price / lag(price) OVER ({W}) - 1 AS r
  FROM ticks
), s AS (
  SELECT event_type, ts_ns, event_id,
         CASE WHEN r > 0 THEN 1 WHEN r < 0 THEN -1 ELSE 0 END AS sgn
  FROM rr
), b AS (
  SELECT event_type, ts_ns, event_id, sgn,
         CASE WHEN lag(sgn) OVER ({W}) IS NULL
                   OR sgn != lag(sgn) OVER ({W}) THEN 1 ELSE 0 END AS bd
  FROM s
), runs AS (
  SELECT event_type, sgn, count(*) AS len FROM (
    SELECT event_type, sgn, sum(bd) OVER ({WR}) AS run FROM b
  ) GROUP BY event_type, sgn, run
)
SELECT event_type,
       max(CASE WHEN sgn = 1 THEN len END) AS max_win_streak,
       max(CASE WHEN sgn = -1 THEN len END) AS max_loss_streak,
       count(*) AS n_runs
FROM runs GROUP BY event_type""",
)
def q_streak_stats(spark, sf_dir):
    """Longest win/loss streaks per event_type — gaps-and-islands run
    ids (lag compare + boundary cumsum sharing one sort), run lengths,
    per-key maxima."""
    from ffn_polars_spark.functions.eod_risk import streak_stats

    t = ticks(spark, sf_dir)
    pre = t.select(
        "event_type", "ts_ns", "event_id",
        ffn.eod.to_returns("price", over=TICK_OVER).alias("r"),
    )
    return streak_stats(
        pre, "r", order_by=["ts_ns", "event_id"], by="event_type"
    )


@query(
    "variance_ratio",
    TICKS_SQL
    + f"""
, rr AS (
  SELECT event_type, ts_ns, event_id,
         price / lag(price) OVER ({W}) - 1 AS r
  FROM ticks
), u AS (
  SELECT event_type, 2 AS q, r,
         CASE WHEN count(r) OVER ({W} ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) = 2
              THEN sum(r) OVER ({W} ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) END AS rq
  FROM rr
  UNION ALL
  SELECT event_type, 4 AS q, r,
         CASE WHEN count(r) OVER ({W} ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) = 4
              THEN sum(r) OVER ({W} ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) END AS rq
  FROM rr
  UNION ALL
  SELECT event_type, 8 AS q, r,
         CASE WHEN count(r) OVER ({W} ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 8
              THEN sum(r) OVER ({W} ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) END AS rq
  FROM rr
)
SELECT event_type, q,
       {R("CASE WHEN var_samp(r) > 0 THEN var_samp(rq) / (q * var_samp(r)) END")} AS vr,
       count(rq) AS n_obs
FROM u GROUP BY event_type, q""",
)
def q_variance_ratio(spark, sf_dir):
    """Lo-MacKinlay variance-ratio profile per event_type at horizons
    2/4/8 — one sorted window pass produces every horizon's overlapping
    sum, one (key, q) aggregate computes both variances."""
    from ffn_polars_spark.functions.eod_risk import variance_ratio

    t = ticks(spark, sf_dir)
    pre = t.select(
        "event_type", "ts_ns", "event_id",
        ffn.eod.to_returns("price", over=TICK_OVER).alias("r"),
    )
    out = variance_ratio(
        pre, "r", order_by=["ts_ns", "event_id"], by="event_type",
        qs=(2, 4, 8),
    )
    return out.select("event_type", "q", r6("vr").alias("vr"), "n_obs")


@query(
    "pairs_spread",
    TICKS_SQL
    + f""", pl AS (
  SELECT event_type, ts_ns, event_id, price,
         lag(price) OVER ({W}) AS pb
  FROM ticks),
p AS (SELECT * FROM pl WHERE pb IS NOT NULL),
fit AS (
  SELECT event_type,
         CASE WHEN var_pop(pb) > 0
              THEN covar_pop(price, pb) / var_pop(pb) END AS beta,
         avg(price) AS ma, avg(pb) AS mb,
         max(abs(price)) AS amax, max(abs(pb)) AS bmax
  FROM p GROUP BY event_type),
sp AS (
  SELECT t.event_type, t.ts_ns, t.event_id,
         t.price - (f.ma - f.beta * f.mb) - f.beta * t.pb AS spread,
         f.amax + abs(f.beta) * f.bmax AS scale
  FROM p t JOIN fit f USING (event_type)),
sd AS (
  SELECT event_type, avg(spread) AS ms, stddev_samp(spread) AS sd,
         max(scale) * 1e-9 AS tol
  FROM sp GROUP BY event_type)
SELECT s.event_type, s.ts_ns, s.event_id, {R("s.spread")} AS spread,
       {R("CASE WHEN d.sd > d.tol THEN (s.spread - d.ms) / d.sd END")} AS z
FROM sp s JOIN sd d USING (event_type)""",
)
def q_pairs_spread(spark, sf_dir):
    """OLS hedge-ratio spread of price against its own lag per ticker
    (the AR(1) residual — a well-conditioned pair; the tape's two price
    columns are exactly collinear, so their residual would be pure float
    noise), with its in-sample z-score: two tiny moment aggregates
    broadcast back — the series never reshuffles."""
    from ffn_polars_spark.functions.tick_price import pairs_spread
    from pyspark.sql.window import Window as _W

    t = ticks(spark, sf_dir)
    w = _W.partitionBy("event_type").orderBy("ts_ns", "event_id")
    pre = t.select(
        "event_type", "ts_ns", "event_id", "price",
        F.lag("price").over(w).alias("pb"),
    ).where(F.col("pb").isNotNull())
    out = pairs_spread(
        pre, "price", "pb", order_by=["ts_ns", "event_id"],
        by="event_type",
    )
    return out.select(
        "event_type", "ts_ns", "event_id",
        r6("spread").alias("spread"), r6("z").alias("z"),
    )


@query(
    "strip_markup",
    r"""
SELECT doc_id,
       md5(trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
               regexp_replace(text, '<[^>]*>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
           '\s+', ' ', 'g'))) AS clean_md5,
       length(trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
               regexp_replace(text, '<[^>]*>', ' ', 'g'),
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
           '\s+', ' ', 'g'))) AS clean_len
FROM documents""",
)
def q_strip_markup(spark, sf_dir):
    """Markup strip + entity decode + whitespace squeeze, byte-pinned via
    md5 against DuckDB's RE2 replay — zero shuffle, the scan is the
    plan."""
    from ffn_polars_spark.operators.text import strip_markup

    docs = read_table(spark, sf_dir, "documents")
    out = strip_markup(docs)
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        F.length("clean_text").alias("clean_len"),
    )


_WT = "PARTITION BY event_type ORDER BY ts_ns"  # ts_ns is unique per key


@query(
    "imbalance_bars",
    TICKS_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""", d0 AS (
  SELECT event_type, ts_ns, price, volume,
         sign(price - lag(price) OVER ({_WT})) AS s0
  FROM ticks),
sg AS (
  SELECT event_type, ts_ns, price, volume,
         coalesce(last_value(nullif(s0, 0.0) IGNORE NULLS)
                  OVER ({_WT} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  0.0) AS sgn
  FROM d0),
f AS (
  SELECT event_type, ts_ns, price, volume, sgn * volume AS flow,
         row_number() OVER (PARTITION BY event_type ORDER BY ts_ns) AS rn,
         sum(sgn * volume) OVER ({_WT}
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM sg),
ks AS (SELECT event_type, max(rn) AS max_rn FROM f GROUP BY event_type),
walk AS (
  -- one recursion step per BAR, not per row (the row-walk formulation
  -- re-evaluated the window CTE every iteration: 38 s vs 1.2 s at sf0.01
  -- for identical output): a bar starting at start_rn with prefix base
  -- ends at the first rn whose |P - base| reaches the threshold
  SELECT event_type, CAST(1 AS BIGINT) AS bar, CAST(1 AS BIGINT) AS start_rn,
         CAST(0.0 AS DOUBLE) AS base
  FROM ks
  UNION ALL
  SELECT w.event_type, w.bar + 1,
         (SELECT min(f.rn) FROM f
           WHERE f.event_type = w.event_type AND f.rn >= w.start_rn
             AND abs(f.p - w.base) >= 500.0) + 1,
         (SELECT f.p FROM f
           WHERE f.event_type = w.event_type
             AND f.rn = (SELECT min(f2.rn) FROM f f2
                          WHERE f2.event_type = w.event_type
                            AND f2.rn >= w.start_rn
                            AND abs(f2.p - w.base) >= 500.0))
  FROM walk w JOIN ks k ON k.event_type = w.event_type
  WHERE (SELECT min(f.rn) FROM f
          WHERE f.event_type = w.event_type AND f.rn >= w.start_rn
            AND abs(f.p - w.base) >= 500.0) IS NOT NULL
    AND (SELECT min(f.rn) FROM f
          WHERE f.event_type = w.event_type AND f.rn >= w.start_rn
            AND abs(f.p - w.base) >= 500.0) < k.max_rn),
bounds AS (
  SELECT w.event_type, w.bar, w.start_rn,
         coalesce((SELECT min(f.rn) FROM f
                    WHERE f.event_type = w.event_type AND f.rn >= w.start_rn
                      AND abs(f.p - w.base) >= 500.0), k.max_rn) AS end_rn
  FROM walk w JOIN ks k ON k.event_type = w.event_type)
SELECT f.event_type, b.bar AS bar_id, min(f.ts_ns) AS bar_start_ts,
       max(f.ts_ns) AS bar_end_ts, arg_min(f.price, f.ts_ns) AS open,
       max(f.price) AS high, min(f.price) AS low,
       arg_max(f.price, f.ts_ns) AS close, CAST(sum(f.volume) AS DOUBLE) AS volume,
       CAST(sum(f.flow) AS DOUBLE) AS imbalance, count(*) AS n_ticks
FROM f JOIN bounds b
  ON f.event_type = b.event_type AND f.rn BETWEEN b.start_rn AND b.end_rn
GROUP BY f.event_type, b.bar""",
)
def q_imbalance_bars(spark, sf_dir):
    """Tick-imbalance bars (|signed volume| >= 500 closes a bar) per
    ticker: JVM window sign, per-key Arrow scan for the reset recurrence,
    JVM per-bar aggregate; the oracle replays the reset walk as a
    per-bar recursive boundary search over prefix sums (O(bars)
    iterations, not O(rows) — byte-identical output to the row walk)."""
    from ffn_polars_spark.functions.tick_bars import imbalance_bars

    t = ticks(spark, sf_dir)
    return imbalance_bars(
        t, "ts_ns", "price", "volume", threshold=500.0, by=["event_type"]
    )


@query(
    "grid_snap",
    TICKS_SQL
    + """, span AS (
  SELECT event_type, min(ts_ns) AS lo, max(ts_ns) AS hi
  FROM ticks GROUP BY event_type),
grid AS (
  SELECT event_type,
         unnest(generate_series(((lo + 59999999999) // 60000000000) * 60000000000,
                                (hi // 60000000000) * 60000000000,
                                60000000000)) AS grid_ts
  FROM span)
SELECT g.event_type, g.grid_ts, t.price
FROM grid g
ASOF LEFT JOIN ticks t
  ON g.event_type = t.event_type AND g.grid_ts >= t.ts_ns""",
)
def q_grid_snap(spark, sf_dir):
    """LOCF resampling of each ticker's price onto a 1-minute grid: the
    union-tag + last(ignorenulls) forward fill (one sort per key, no
    per-grid-point join); the oracle is DuckDB's native ASOF JOIN — an
    independent formulation of the same semantics."""
    from ffn_polars_spark.operators.asof import grid_snap

    t = ticks(spark, sf_dir)
    out = grid_snap(
        t, "ts_ns", "price", step=60_000_000_000, by="event_type"
    )
    return out.select("event_type", "grid_ts", "price")


@query(
    "half_life",
    TICKS_SQL
    + f""", s AS (
  SELECT event_type, price AS x,
         lag(price) OVER ({W}) AS xp
  FROM ticks),
g AS (
  SELECT event_type,
         CASE WHEN var_pop(xp) > 0
              THEN covar_pop(x - xp, xp) / var_pop(xp) END AS beta,
         count(*) AS n
  FROM s WHERE xp IS NOT NULL GROUP BY event_type)
SELECT event_type, {R("beta")} AS beta, {R("1.0 + beta")} AS rho,
       CASE WHEN 1.0 + beta > 0 AND 1.0 + beta < 1
            THEN {R("-ln(2.0) / ln(1.0 + beta)")} END AS half_life,
       n
FROM g""",
)
def q_half_life(spark, sf_dir):
    """AR(1) mean-reversion half-life of the price level per ticker —
    one lag window, one closed-form moment aggregate."""
    from ffn_polars_spark.functions.tick_price import half_life

    t = ticks(spark, sf_dir)
    out = half_life(
        t, "price", order_by=["ts_ns", "event_id"], by="event_type"
    )
    return out.select(
        "event_type", r6("beta").alias("beta"), r6("rho").alias("rho"),
        r6("half_life").alias("half_life"), "n",
    )


@query(
    "sentence_stats",
    r"""
WITH s AS (
  SELECT doc_id,
         list_filter(list_transform(string_split_regex(text, '[.!?]+'),
                     x -> len(list_filter(string_split_regex(x, '\s+'),
                                          t -> t <> ''))),
                     c -> c > 0) AS wp
  FROM documents)
SELECT doc_id, CAST(len(wp) AS BIGINT) AS n_sentences,
       CASE WHEN len(wp) > 0
            THEN floor((CAST(list_sum(wp) AS DOUBLE) / CAST(len(wp) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0 END AS avg_sentence_words,
       CAST(list_max(wp) AS BIGINT) AS max_sentence_words
FROM s""",
)
def q_sentence_stats(spark, sf_dir):
    """Per-document sentence-shape profile — pure in-row expression tree,
    no explode, no shuffle; the parquet scan is the whole plan."""
    from ffn_polars_spark.operators.text import sentence_stats

    docs = read_table(spark, sf_dir, "documents")
    out = sentence_stats(docs)
    return out.select(
        "doc_id", "n_sentences",
        r6("avg_sentence_words").alias("avg_sentence_words"),
        "max_sentence_words",
    )


@query(
    "rolling_sharpe",
    TICKS_SQL
    + f""", rr AS (
  SELECT event_type, ts_ns, event_id,
         price / lag(price) OVER ({W}) - 1 AS r
  FROM ticks)
SELECT event_type, ts_ns,
       CASE WHEN count(r) OVER ({W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) >= 20
                 AND stddev_samp(r) OVER ({W} ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) > 0
            THEN {R("sqrt(252.0) * avg(r) OVER (" + W + " ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) / stddev_samp(r) OVER (" + W + " ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)")}
       END AS r_rolling_sharpe
FROM rr""",
)
def q_rolling_sharpe(spark, sf_dir):
    """Annualized 20-tick rolling Sharpe per ticker — one window frame
    over one sort, sharing the return lag's exchange."""
    t = ticks(spark, sf_dir)
    pre = t.select(
        "event_type", "ts_ns", "event_id",
        ffn.eod.to_returns("price", over=TICK_OVER).alias("r"),
    )
    return pre.select(
        "event_type", "ts_ns",
        r6(ffn.eod.rolling_sharpe("r", 20, over=TICK_OVER, n=252)).alias(
            "r_rolling_sharpe"
        ),
    )


@query(
    "topk_per_group",
    """
SELECT event_type, event_id, value, rank FROM (
  SELECT event_type, event_id, value,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY value DESC, event_id DESC) AS INT) AS rank
  FROM events) t
WHERE rank <= 3""",
)
def q_topk_per_group(spark, sf_dir):
    """Generic per-group top-k (k=3 by value, event_id tiebreak): the
    rank filter compiles to WindowGroupLimit, so each map task forwards
    at most k rows per group — wire cost O(groups·k)."""
    from ffn_polars_spark.operators.wide import topk_per_group

    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    return topk_per_group(ev, "event_type", ["value", "event_id"], k=3)


@query(
    "intraday_profile",
    TICKS_SQL
    + f""", rr AS (
  SELECT event_type, volume,
         CAST(floor((ts_ns % 86400000000000) / 3600000000000) AS BIGINT) AS hour,
         price / lag(price) OVER ({W}) - 1 AS r
  FROM ticks),
g AS (
  SELECT event_type, hour, count(*) AS n_trades,
         CAST(sum(volume) AS DOUBLE) AS volume,
         avg(abs(r)) AS mean_abs_r, sqrt(sum(r * r)) AS realized_vol
  FROM rr GROUP BY event_type, hour)
SELECT event_type, hour, n_trades, volume,
       {R("volume / sum(volume) OVER (PARTITION BY event_type)")} AS volume_share,
       {R("mean_abs_r")} AS mean_abs_r,
       {R("realized_vol")} AS realized_vol
FROM g""",
)
def q_intraday_profile(spark, sf_dir):
    """UTC hour-of-day activity profile per ticker: one sorted pass for
    tick returns, one (key, hour) aggregate, and a <=24-row share window."""
    from ffn_polars_spark.functions.tick_activity import intraday_profile

    t = ticks(spark, sf_dir)
    out = intraday_profile(
        t, "price", "volume", ts_col="ts_ns", by="event_type",
        order_by=["ts_ns", "event_id"],
    )
    return out.select(
        "event_type", "hour", "n_trades", "volume",
        r6("volume_share").alias("volume_share"),
        r6("mean_abs_r").alias("mean_abs_r"),
        r6("realized_vol").alias("realized_vol"),
    )


_LL_BRANCHES = "\n  UNION ALL\n  ".join(
    f'SELECT event_type, {k} AS "lag", ra, '
    + (f"lead(rb, {-k})" if k < 0 else f"lag(rb, {k})")
    + f" OVER ({W}) AS bk\n  FROM rr"
    for k in range(-3, 4)
)


@query(
    "lead_lag_corr",
    TICKS_SQL
    + f""", rr AS (
  SELECT event_type, ts_ns, event_id,
         price / lag(price) OVER ({W}) - 1 AS ra,
         price_b / lag(price_b) OVER ({W}) - 1 AS rb
  FROM ticks),
u AS (
  {_LL_BRANCHES}
)
SELECT event_type, "lag",
       count(CASE WHEN ra IS NOT NULL AND bk IS NOT NULL THEN 1 END) AS n,
       {R('''CASE WHEN stddev_pop(CASE WHEN bk IS NOT NULL THEN ra END)
                 * stddev_pop(CASE WHEN ra IS NOT NULL THEN bk END) <> 0
            THEN covar_pop(CASE WHEN bk IS NOT NULL THEN ra END,
                           CASE WHEN ra IS NOT NULL THEN bk END)
               / (stddev_pop(CASE WHEN bk IS NOT NULL THEN ra END)
                * stddev_pop(CASE WHEN ra IS NOT NULL THEN bk END)) END''')} AS ccf
FROM u GROUP BY event_type, "lag" """,
)
def q_lead_lag_corr(spark, sf_dir):
    """Lead-lag cross-correlation between the tape's two price columns
    (aligned by construction) at lags -3..3 per ticker — every offset from
    one window pass, one aggregate row per (ticker, lag)."""
    from ffn_polars_spark.functions.tick_price import lead_lag_corr

    t = ticks(spark, sf_dir)
    pre = t.select(
        "event_type", "ts_ns", "event_id",
        ffn.eod.to_returns("price", over=TICK_OVER).alias("ra"),
        ffn.eod.to_returns("price_b", over=TICK_OVER).alias("rb"),
    )
    out = lead_lag_corr(
        pre, "ra", "rb", order_by=["ts_ns", "event_id"], by="event_type",
        max_lag=3,
    )
    return out.select("event_type", "lag", "n", r6("ccf").alias("ccf"))


def _QSUM_U(qs=(2, 4, 8, 16), with_q1=True):
    """Overlapping q-period-sum UNION ALL block shared by the
    variance-ratio-family oracles: complete windows only, NULL otherwise."""
    parts = (
        ["SELECT event_type, 1 AS q, r, r AS rq\n  FROM rr"] if with_q1 else []
    )
    for q in qs:
        frame = f"{W} ROWS BETWEEN {q - 1} PRECEDING AND CURRENT ROW"
        parts.append(
            f"""SELECT event_type, {q} AS q, r,
         CASE WHEN count(r) OVER ({frame}) = {q}
              THEN sum(r) OVER ({frame}) END AS rq
  FROM rr"""
        )
    return "\n  UNION ALL\n  ".join(parts)


@query(
    "hurst_exponent",
    TICKS_SQL
    + f"""
, rr AS (
  SELECT event_type, ts_ns, event_id,
         price / lag(price) OVER ({W}) - 1 AS r
  FROM ticks
), u AS (
  {_QSUM_U()}
), v AS (
  SELECT event_type, q, var_samp(rq) AS vq, count(rq) AS n
  FROM u GROUP BY event_type, q
)
SELECT event_type,
       {R("CASE WHEN var_samp(ln(q)) > 0 THEN covar_samp(ln(q), ln(vq)) / var_samp(ln(q)) / 2.0 END")} AS hurst,
       count(q) AS n_qs,
       max(CASE WHEN q = 1 THEN n END) AS n_obs
FROM v WHERE vq > 0 GROUP BY event_type""",
)
def q_hurst_exponent(spark, sf_dir):
    """Hurst exponent per event_type via the aggregated-variance
    regression over horizons 1/2/4/8/16 — the same one-sorted-pass q-sum
    staging as variance_ratio, condensed to a closed-form slope."""
    from ffn_polars_spark.functions.eod_risk import hurst_exponent

    t = ticks(spark, sf_dir)
    pre = t.select(
        "event_type", "ts_ns", "event_id",
        ffn.eod.to_returns("price", over=TICK_OVER).alias("r"),
    )
    out = hurst_exponent(
        pre, "r", order_by=["ts_ns", "event_id"], by="event_type",
        qs=(2, 4, 8, 16),
    )
    return out.select(
        "event_type", r6("hurst").alias("hurst"), "n_qs", "n_obs"
    )


# ---------------------------------------------------------------------------
# Model-evaluation panel (operators/evaluation.py): the metrics a pipeline
# trusts its trained quality/filter classifiers by. Orders is the scored
# frame: score = o_totalprice, positive = finished status ('F').
# ---------------------------------------------------------------------------


@query(
    "auc_by_group",
    f"""
WITH r AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos,
         rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)
           + (count(*) OVER (PARTITION BY o_orderpriority, o_totalprice) - 1) / 2.0 AS mr
  FROM orders)
SELECT o_orderpriority,
       {R("(sum(CASE WHEN pos = 1 THEN mr END) - (sum(pos) * (sum(pos) + 1.0)) / 2.0) / (sum(pos) * (count(*) - sum(pos)))")} AS auc,
       CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(count(*) - sum(pos) AS BIGINT) AS n_neg
FROM r GROUP BY o_orderpriority""",
)
def q_auc_by_group(spark, sf_dir):
    """Distributed ROC AUC per priority band via the Mann-Whitney rank-sum
    identity — one midrank window + one hash aggregate, never the O(n²)
    pairwise compare. Midranks make ties exact, so both engines agree to
    the last bit before the single output division."""
    from ffn_polars_spark.operators.evaluation import auc_by_group

    orders = read_table(spark, sf_dir, "orders")
    scored = orders.select(
        "o_orderpriority",
        "o_totalprice",
        (F.col("o_orderstatus") == "F").alias("label"),
    )
    out = auc_by_group(scored, "o_totalprice", "label", by="o_orderpriority")
    return out.select(
        "o_orderpriority", r6("auc").alias("auc"), "n_pos", "n_neg"
    )


@query(
    "calibration_bins",
    f"""
WITH s AS (
  SELECT o_orderpriority,
         min(o_totalprice) AS lo, max(o_totalprice) AS hi
  FROM orders GROUP BY o_orderpriority),
b AS (
  SELECT o.o_orderpriority,
         CASE WHEN s.hi - s.lo > 0
              THEN CAST(least(floor((o.o_totalprice - s.lo) / (s.hi - s.lo) * 10.0), 9) AS INT)
              ELSE 0 END AS bin,
         o.o_totalprice AS sc,
         CASE WHEN o.o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
  FROM orders o JOIN s USING (o_orderpriority))
SELECT o_orderpriority, bin, count(*) AS n,
       {R("avg(sc)")} AS mean_score,
       {R("avg(y)")} AS pos_rate
FROM b GROUP BY o_orderpriority, bin""",
)
def q_calibration_bins(spark, sf_dir):
    """Reliability-diagram frame: 10 equal-width score bins inside each
    group's own range (the 1-row-per-group stats frame broadcasts back —
    the scored table shuffles only for the groups x bins output). The bin
    edges come from identical double arithmetic in both engines, so the
    floor is deterministic."""
    from ffn_polars_spark.operators.evaluation import calibration_bins

    orders = read_table(spark, sf_dir, "orders")
    scored = orders.select(
        "o_orderpriority",
        "o_totalprice",
        (F.col("o_orderstatus") == "F").alias("label"),
    )
    out = calibration_bins(
        scored, "o_totalprice", "label", by="o_orderpriority", bins=10
    )
    return out.select(
        "o_orderpriority", "bin", "n",
        r6("mean_score").alias("mean_score"),
        r6("pos_rate").alias("pos_rate"),
    )


@query(
    "spearman_ic",
    TICKS_SQL
    + f""", sig AS (
  SELECT event_type, volume AS signal,
         lead(price) OVER ({W}) / price - 1 AS fwd_ret
  FROM ticks),
s AS (SELECT * FROM sig WHERE signal IS NOT NULL AND fwd_ret IS NOT NULL),
rk AS (
  SELECT event_type,
         rank() OVER (PARTITION BY event_type ORDER BY signal)
           + (count(*) OVER (PARTITION BY event_type, signal) - 1) / 2.0 AS rx,
         rank() OVER (PARTITION BY event_type ORDER BY fwd_ret)
           + (count(*) OVER (PARTITION BY event_type, fwd_ret) - 1) / 2.0 AS ry
  FROM s)
SELECT event_type, {R("corr(rx, ry)")} AS spearman, count(*) AS n
FROM rk GROUP BY event_type""",
)
def q_spearman_ic(spark, sf_dir):
    """Information coefficient: Spearman rank correlation between a signal
    (volume) and the next-period return, per ticker — Pearson on midranks,
    so ties are exact and only the final corr carries float noise."""
    from ffn_polars_spark.operators.evaluation import spearman_corr

    t = ticks(spark, sf_dir)
    w = TICK_OVER.w_ordered("spearman_ic")
    sig = t.select(
        "event_type",
        F.col("volume").alias("signal"),
        (F.lead("price", 1).over(w) / F.col("price") - 1).alias("fwd_ret"),
    )
    out = spearman_corr(sig, "signal", "fwd_ret", by="event_type")
    return out.select("event_type", r6("spearman").alias("spearman"), "n")


@query(
    "benford_digits",
    f"""
WITH pos AS (
  SELECT o_orderpriority,
         CAST(floor(o_totalprice / pow(10.0, floor(log10(o_totalprice)))) AS INT) AS digit
  FROM orders WHERE o_totalprice > 0),
pd AS (SELECT o_orderpriority, digit, count(*) AS n
       FROM pos GROUP BY o_orderpriority, digit),
tt AS (SELECT o_orderpriority, CAST(sum(n) AS BIGINT) AS total
       FROM pd GROUP BY o_orderpriority)
SELECT pd.o_orderpriority, pd.digit, pd.n,
       {R("pd.n / CAST(tt.total AS DOUBLE)")} AS observed_freq,
       {R("log10(1.0 + 1.0 / pd.digit)")} AS expected_freq,
       {R("tt.total * pow(pd.n / CAST(tt.total AS DOUBLE) - log10(1.0 + 1.0 / pd.digit), 2) / log10(1.0 + 1.0 / pd.digit)")} AS chi2_term
FROM pd JOIN tt USING (o_orderpriority)""",
)
def q_benford_digits(spark, sf_dir):
    """First-significant-digit distribution of order totals vs Benford's
    law, per priority band — projection + two hash aggregates, output
    cardinality groups x 9, with per-digit chi-square contributions."""
    from ffn_polars_spark.operators.evaluation import benford_digits

    orders = read_table(spark, sf_dir, "orders")
    out = benford_digits(orders, "o_totalprice", by="o_orderpriority")
    return out.select(
        "o_orderpriority", "digit", "n",
        r6("observed_freq").alias("observed_freq"),
        r6("expected_freq").alias("expected_freq"),
        r6("chi2_term").alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# CAPM attribution + tail asymmetry (functions/eod_ratios.py additions).
# ---------------------------------------------------------------------------


@query(
    "jensen_alpha",
    TICKS_SQL
    + f""", rr AS (
  SELECT event_type,
         price / lag(price) OVER ({W}) - 1 AS r,
         price_b / lag(price_b) OVER ({W}) - 1 AS b
  FROM ticks),
ok AS (SELECT * FROM rr WHERE r IS NOT NULL AND b IS NOT NULL),
m AS (
  SELECT event_type,
         covar_pop(r, b) / var_pop(b) AS beta,
         avg(r) AS mr, avg(b) AS mb,
         count(*) AS n_obs
  FROM ok GROUP BY event_type)
SELECT event_type,
       {R("beta")} AS beta,
       {R("(mr - beta * mb) * 252.0")} AS alpha,
       {R("CASE WHEN beta <> 0 THEN mr * 252.0 / beta END")} AS treynor_ratio,
       n_obs
FROM m""",
)
def q_jensen_alpha(spark, sf_dir):
    """Single-factor CAPM panel per ticker: OLS beta of price returns on
    the price_b benchmark, annualized Jensen's alpha, and Treynor — one
    hash aggregate over conditional columns after the returns window."""
    from ffn_polars_spark.functions.eod_ratios import jensen_alpha

    t = ticks(spark, sf_dir)
    pre = t.select(
        "event_type",
        ffn.eod.to_returns("price", over=TICK_OVER).alias("r"),
        ffn.eod.to_returns("price_b", over=TICK_OVER).alias("b"),
    )
    out = jensen_alpha(pre, "r", "b", by="event_type")
    return out.select(
        "event_type",
        r6("beta").alias("beta"),
        r6("alpha").alias("alpha"),
        r6("treynor_ratio").alias("treynor_ratio"),
        "n_obs",
    )


@query(
    "tail_ratio",
    TICKS_SQL
    + f""", rr AS (
  SELECT event_type, price / lag(price) OVER ({W}) - 1 AS r
  FROM ticks)
SELECT event_type,
       {R("CASE WHEN quantile_cont(r, 0.05) <> 0 THEN abs(quantile_cont(r, 0.95)) / abs(quantile_cont(r, 0.05)) END")} AS r_tail_ratio
FROM rr WHERE r IS NOT NULL GROUP BY event_type""",
)
def q_tail_ratio(spark, sf_dir):
    """Right-tail / left-tail percentile ratio of returns per ticker —
    exact interpolated percentiles (the proven quantile_cont parity), one
    aggregate after the returns window."""
    t = ticks(spark, sf_dir)
    pre = t.select(
        "event_type", ffn.eod.to_returns("price", over=TICK_OVER).alias("r")
    ).where(F.col("r").isNotNull())
    return pre.groupBy("event_type").agg(
        r6(ffn.eod.tail_ratio("r")).alias("r_tail_ratio")
    )


# ---------------------------------------------------------------------------
# Quote-aware trade classification (functions/tick_direction.py lee_ready,
# functions/quote.py realized_spread): the tape splits into a trade print
# stream (every third event) and a quote stream (the rest).
# ---------------------------------------------------------------------------

_LR_SPLIT_SQL = (
    TICKS_SQL
    + """, t AS (
  SELECT event_type, event_id, ts_ns, price FROM ticks WHERE event_id % 3 = 0),
q AS (
  SELECT event_type, ts_ns,
         (greatest(price, price_b) + least(price, price_b)) / 2.0 AS mid
  FROM ticks WHERE event_id % 3 <> 0)"""
)


def _lr_frames(spark, sf_dir):
    tk = ticks(spark, sf_dir)
    trades = tk.where(F.col("event_id") % 3 == 0).select(
        "event_type", "event_id", "ts_ns", "price"
    )
    quotes = tk.where(F.col("event_id") % 3 != 0).select(
        "event_type",
        "ts_ns",
        F.greatest("price", "price_b").alias("ask"),
        F.least("price", "price_b").alias("bid"),
    )
    return trades, quotes


@query(
    "lee_ready",
    _LR_SPLIT_SQL
    + f""",
j AS (
  SELECT t.event_type, t.event_id, t.ts_ns, t.price, q.mid
  FROM t ASOF LEFT JOIN q
    ON t.event_type = q.event_type AND t.ts_ns >= q.ts_ns)
SELECT event_type, event_id,
       {R("mid")} AS mid,
       CASE WHEN price > mid THEN 1
            WHEN price < mid THEN -1
            ELSE (CASE WHEN price > lag(price) OVER ({W}) THEN 1
                       WHEN price < lag(price) OVER ({W}) THEN -1
                       ELSE 0 END) END AS lr_direction
FROM j""",
)
def q_lee_ready(spark, sf_dir):
    """Lee-Ready classification of the trade stream against the prevailing
    quote midpoint (as-of backward), tick-rule fallback at the mid or
    before the first quote — one as-of join + one ordered window."""
    from ffn_polars_spark.functions.tick_direction import lee_ready

    trades, quotes = _lr_frames(spark, sf_dir)
    out = lee_ready(trades, quotes, price="price", ts="ts_ns", by="event_type")
    return out.select(
        "event_type", "event_id", r6("mid").alias("mid"), "lr_direction"
    )


@query(
    "realized_spread",
    _LR_SPLIT_SQL
    + f""",
th AS (SELECT *, ts_ns + 60000000000 AS ts_h FROM t),
j AS (
  SELECT th.event_type, th.event_id, th.ts_ns, th.price, q.mid AS mid_future
  FROM th ASOF LEFT JOIN q
    ON th.event_type = q.event_type AND th.ts_h >= q.ts_ns)
SELECT event_type, event_id,
       {R("mid_future")} AS mid_future,
       {R(f"2.0 * (CASE WHEN price > lag(price) OVER ({W}) THEN 1 WHEN price < lag(price) OVER ({W}) THEN -1 ELSE 0 END) * (price - mid_future)")} AS realized_spread
FROM j""",
)
def q_realized_spread(spark, sf_dir):
    """Post-trade realized spread: 2·d·(p_t − mid_{{t+60s}}) with the future
    midpoint from an as-of join on the shifted timestamp and tick-rule
    trade signs — what the liquidity provider keeps after one minute."""
    from ffn_polars_spark.functions.quote import realized_spread

    trades, quotes = _lr_frames(spark, sf_dir)
    out = realized_spread(
        trades, quotes, horizon=60_000_000_000, price="price",
        ts="ts_ns", by=["event_type"],
    )
    return out.select(
        "event_type", "event_id",
        r6("mid_future").alias("mid_future"),
        r6("realized_spread").alias("realized_spread"),
    )


@query(
    "hhi_concentration",
    f"""
WITH pe AS (
  SELECT o_orderpriority, o_custkey, sum(o_totalprice) AS ev
  FROM orders GROUP BY o_orderpriority, o_custkey),
m AS (
  SELECT o_orderpriority,
         sum(ev * ev) AS sq, sum(ev) AS total, count(*) AS n_entities
  FROM pe GROUP BY o_orderpriority)
SELECT o_orderpriority,
       {R("CASE WHEN total <> 0 THEN sq / (total * total) END")} AS hhi,
       {R("CASE WHEN n_entities > 1 THEN (sq / (total * total) - 1.0 / n_entities) / (1.0 - 1.0 / n_entities) END")} AS hhi_normalized,
       n_entities
FROM m""",
)
def q_hhi_concentration(spark, sf_dir):
    """Herfindahl concentration of order value across customers inside
    each priority band — two stacked hash aggregates on prefixes of the
    same key, output cardinality = groups. The raw `total` column stays
    out of the catalog projection: a ~1e9-magnitude double sum
    accumulates engine-order drift right at r6's 1e-6 resolution, while
    the share ratios (drift ~1e-19) are hash-stable."""
    from ffn_polars_spark.operators.quality import hhi_concentration

    orders = read_table(spark, sf_dir, "orders")
    out = hhi_concentration(
        orders, "o_totalprice", "o_custkey", group_col="o_orderpriority"
    )
    return out.select(
        "o_orderpriority",
        r6("hhi").alias("hhi"),
        r6("hhi_normalized").alias("hhi_normalized"),
        "n_entities",
    )


@query(
    "expected_calibration_error",
    f"""
WITH sc AS (
  SELECT o_orderpriority,
         (o_totalprice % 1000.0) / 1000.0 AS s,
         CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
  FROM orders),
st AS (SELECT o_orderpriority, min(s) AS lo, max(s) AS hi
       FROM sc GROUP BY o_orderpriority),
b AS (
  SELECT sc.o_orderpriority,
         CASE WHEN st.hi - st.lo > 0
              THEN CAST(least(floor((sc.s - st.lo) / (st.hi - st.lo) * 10.0), 9) AS INT)
              ELSE 0 END AS bin,
         sc.s, sc.y
  FROM sc JOIN st USING (o_orderpriority)),
cb AS (SELECT o_orderpriority, bin, count(*) AS n,
              avg(s) AS mean_score, avg(y) AS pos_rate
       FROM b GROUP BY o_orderpriority, bin)
SELECT o_orderpriority,
       {R("sum(abs(pos_rate - mean_score) * n) / sum(n)")} AS ece,
       {R("max(abs(pos_rate - mean_score))")} AS mce,
       CAST(sum(n) AS BIGINT) AS n
FROM cb GROUP BY o_orderpriority""",
)
def q_expected_calibration_error(spark, sf_dir):
    """Expected Calibration Error per priority band over a [0,1]
    pseudo-probability (the price's fractional-thousand part) — the
    n-weighted reliability gap plus the worst-bin MCE, composed on
    calibration_bins' broadcast-stats shape."""
    from ffn_polars_spark.operators.evaluation import expected_calibration_error

    orders = read_table(spark, sf_dir, "orders")
    scored = orders.select(
        "o_orderpriority",
        ((F.col("o_totalprice") % 1000.0) / 1000.0).alias("s"),
        (F.col("o_orderstatus") == "F").alias("label"),
    )
    out = expected_calibration_error(
        scored, "s", "label", by="o_orderpriority", bins=10
    )
    return out.select(
        "o_orderpriority", r6("ece").alias("ece"), r6("mce").alias("mce"), "n"
    )


# ---------------------------------------------------------------------------
# Retrieval metrics (operators/evaluation.py ndcg_at_k / mrr_at_k): each
# event_type is a "query", users are ranked items; score and relevance are
# exact integer aggregates so the ranking itself is drift-free.
# ---------------------------------------------------------------------------

_RANKED_ITEMS_SQL = """WITH items AS (
  SELECT event_type, user_id,
         sum(event_id % 100) AS score,
         count(*) AS cnt
  FROM events GROUP BY event_type, user_id)"""


def _ranked_items(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("event_id") % 100).alias("score"),
        F.count(F.lit(1)).alias("cnt"),
    )


@query(
    "ndcg_at_k",
    _RANKED_ITEMS_SQL
    + f""",
r AS (
  SELECT event_type, cnt AS rel,
         row_number() OVER (PARTITION BY event_type ORDER BY score DESC, user_id) AS rs,
         row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, user_id) AS ri
  FROM items),
t AS (SELECT * FROM r WHERE rs <= 10 OR ri <= 10)
SELECT event_type,
       {R("CASE WHEN sum(CASE WHEN ri <= 10 THEN rel / log2(ri + 1.0) END) > 0 THEN sum(CASE WHEN rs <= 10 THEN rel / log2(rs + 1.0) END) / sum(CASE WHEN ri <= 10 THEN rel / log2(ri + 1.0) END) END")} AS ndcg,
       count(*) AS n_items
FROM t GROUP BY event_type""",
)
def q_ndcg_at_k(spark, sf_dir):
    """nDCG@10 per event_type "query": users ranked by an exact integer
    engagement score, graded by their event count — two ordered windows on
    one exchange, rank-filtered to queries x 2k rows before the
    aggregate."""
    from ffn_polars_spark.operators.evaluation import ndcg_at_k

    items = _ranked_items(spark, sf_dir)
    out = ndcg_at_k(
        items, "event_type", "score", "cnt", k=10, tie_col="user_id"
    )
    return out.select("event_type", r6("ndcg").alias("ndcg"), "n_items")


@query(
    "mrr_at_k",
    _RANKED_ITEMS_SQL
    + """,
r AS (
  SELECT event_type,
         CASE WHEN cnt > 3 THEN 1.0 ELSE 0.0 END AS rel,
         row_number() OVER (PARTITION BY event_type ORDER BY score DESC, user_id) AS rs
  FROM items),
t AS (SELECT * FROM r WHERE rs <= 10),
m AS (SELECT event_type, min(CASE WHEN rel > 0 THEN rs END) AS first_rel_rank
      FROM t GROUP BY event_type)
SELECT event_type,
       CASE WHEN first_rel_rank IS NOT NULL THEN 1.0 / first_rel_rank ELSE 0.0 END AS rr,
       first_rel_rank
FROM m""",
)
def q_mrr_at_k(spark, sf_dir):
    """Reciprocal rank of the first heavily-active user (count > 3) in
    each event_type's top-10 — one ordered window + a min aggregate;
    exact rational output, no rounding needed."""
    from ffn_polars_spark.operators.evaluation import mrr_at_k

    items = _ranked_items(spark, sf_dir).withColumn(
        "rel", F.when(F.col("cnt") > 3, 1.0).otherwise(0.0)
    )
    return mrr_at_k(items, "event_type", "score", "rel", k=10, tie_col="user_id")


@query(
    "hill_tail_index",
    f"""
WITH pos AS (
  SELECT o_orderpriority, o_totalprice AS x, o_orderkey
  FROM orders WHERE o_totalprice > 0),
r AS (
  SELECT o_orderpriority, x,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY x DESC, o_orderkey) AS rn
  FROM pos),
t AS (SELECT * FROM r WHERE rn <= 101),
m AS (
  SELECT o_orderpriority,
         sum(CASE WHEN rn <= 100 THEN ln(x) END) AS lnsum,
         max(CASE WHEN rn = 101 THEN x END) AS x_k1,
         CAST(count(CASE WHEN rn <= 100 THEN 1 END) AS BIGINT) AS n_tail
  FROM t GROUP BY o_orderpriority)
SELECT o_orderpriority,
       {R("CASE WHEN x_k1 IS NOT NULL AND n_tail = 100 THEN lnsum / 100.0 - ln(x_k1) END")} AS hill,
       {R("CASE WHEN x_k1 IS NOT NULL AND n_tail = 100 AND lnsum / 100.0 - ln(x_k1) > 0 THEN 1.0 / (lnsum / 100.0 - ln(x_k1)) END")} AS alpha,
       x_k1, n_tail
FROM m""",
)
def q_hill_tail_index(spark, sf_dir):
    """Hill power-law tail exponent of order totals per priority band
    (k = 100 top order statistics, o_orderkey tiebreak) — the rank filter
    runs before any arithmetic, so the aggregate sees groups x 101 rows."""
    from ffn_polars_spark.operators.sketch import hill_tail_index

    orders = read_table(spark, sf_dir, "orders")
    out = hill_tail_index(
        orders, "o_totalprice", k=100, by=["o_orderpriority"],
        tie_col="o_orderkey",
    )
    return out.select(
        "o_orderpriority",
        r6("hill").alias("hill"),
        r6("alpha").alias("alpha"),
        "x_k1",
        "n_tail",
    )


@query(
    "execution_slippage",
    TICKS_SQL
    + f""", b AS (
  SELECT event_type, event_id, ts_ns, price, volume,
         CAST(floor(ts_ns / 86400000000000.0) AS BIGINT) AS bucket
  FROM ticks),
w AS (
  SELECT event_type, event_id, bucket, price,
         sum(price * volume) OVER (PARTITION BY event_type, bucket)
           / sum(volume) OVER (PARTITION BY event_type, bucket) AS vwap,
         CASE WHEN price > lag(price) OVER ({W}) THEN 1
              WHEN price < lag(price) OVER ({W}) THEN -1
              ELSE 0 END AS d
  FROM b)
SELECT event_type, event_id, bucket,
       {R("vwap")} AS vwap,
       {R("CASE WHEN vwap <> 0 THEN d * (price - vwap) / vwap END")} AS slippage
FROM w""",
)
def q_execution_slippage(spark, sf_dir):
    """Per-trade slippage vs the daily VWAP benchmark with tick-rule
    signs — the bucket VWAP is an unordered window on the same exchange
    the sign's ordered window establishes: one shuffle, no join."""
    from ffn_polars_spark.functions.tick_flow import execution_slippage

    t = ticks(spark, sf_dir)
    out = execution_slippage(
        t, "price", "volume", "ts_ns", by="event_type",
        bucket_ns=86_400_000_000_000,
    )
    return out.select(
        "event_type", "event_id", "bucket",
        r6("vwap").alias("vwap"),
        r6("slippage").alias("slippage"),
    )


@query(
    "bm25_search",
    r"""
WITH tok0 AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents),
tok AS (SELECT doc_id, token FROM tok0 WHERE token <> ''),
dl AS (
  SELECT d.doc_id, CAST(coalesce(t.c, 0) AS DOUBLE) AS len
  FROM documents d LEFT JOIN
       (SELECT doc_id, count(*) AS c FROM tok GROUP BY doc_id) t USING (doc_id)),
c AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(len) AS avglen FROM dl),
tf AS (
  SELECT tok.doc_id, tok.token, CAST(count(*) AS DOUBLE) AS tf,
         max(dl.len) AS len
  FROM tok JOIN dl USING (doc_id)
  WHERE tok.token IN ('hash', 'join', 'scan')
  GROUP BY tok.doc_id, tok.token),
dft AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
s AS (
  SELECT tf.doc_id,
         ln(1.0 + (c.n_docs - dft.df + 0.5) / (dft.df + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * tf.len / c.avglen)) AS s
  FROM tf JOIN dft USING (token) CROSS JOIN c)
SELECT doc_id,
       floor((sum(s)) * 1000000.0 + 0.5) / 1000000.0 AS score,
       count(*) AS n_terms
FROM s GROUP BY doc_id""",
)
def q_bm25_search(spark, sf_dir):
    """Disjunctive BM25 ranking for 'hash join scan' (k1=1.2, b=0.75,
    Lucene idf): query-term broadcast semi-filters the exploded postings
    before any shuffle; doc length rides with each posting; N/avglen is a
    1-row broadcast. Note the oracle's 2.2 literal: Python's 1.2+1.0
    equals parse('2.2') bit-for-bit, so both engines compute the same
    saturation constant."""
    from ffn_polars_spark.operators.search import bm25_search

    docs = read_table(spark, sf_dir, "documents")
    out = bm25_search(docs, ["hash", "join", "scan"], k1=1.2, b=0.75)
    return out.select("doc_id", r6("score").alias("score"), "n_terms")


@query(
    "pr_at_k",
    """
WITH r AS (
  SELECT o_orderpriority,
         CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS pos,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders),
c AS (
  SELECT o_orderpriority, rn,
         sum(pos) OVER (PARTITION BY o_orderpriority ORDER BY rn) AS tp,
         sum(pos) OVER (PARTITION BY o_orderpriority) AS npos,
         count(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM r)
SELECT o_orderpriority, CAST(rn AS BIGINT) AS k,
       tp / rn AS precision,
       CASE WHEN npos > 0 THEN tp / npos END AS recall,
       CAST(npos AS BIGINT) AS n_pos
FROM c
WHERE rn IN (1, 5, 10, 50, 100) OR (rn = n AND n < 100)""",
)
def q_pr_at_k(spark, sf_dir):
    """Precision/recall at rank cutoffs 1/5/10/50/100 per priority band:
    rank + running-TP on one ordered window (one exchange), total
    positives on the group prefix of the same partitioning, rank-filtered
    to groups x |ks| rows — exact integer ratios, no rounding."""
    from ffn_polars_spark.operators.evaluation import pr_at_k

    orders = read_table(spark, sf_dir, "orders")
    scored = orders.select(
        "o_orderpriority", "o_orderkey", "o_totalprice",
        (F.col("o_orderstatus") == "F").alias("label"),
    )
    return pr_at_k(
        scored, "o_totalprice", "label", by="o_orderpriority",
        ks=(1, 5, 10, 50, 100), tie_col="o_orderkey",
    )


@query(
    "ic_decay",
    TICKS_SQL
    + f""", ld AS (
  SELECT event_type, volume AS sig,
         lead(price, 1) OVER ({W}) / price - 1.0 AS f1,
         lead(price, 5) OVER ({W}) / price - 1.0 AS f5,
         lead(price, 10) OVER ({W}) / price - 1.0 AS f10
  FROM ticks),
st AS (
  SELECT event_type, 1 AS horizon, sig, f1 AS fwd FROM ld
  UNION ALL SELECT event_type, 5, sig, f5 FROM ld
  UNION ALL SELECT event_type, 10, sig, f10 FROM ld),
ok AS (SELECT * FROM st WHERE sig IS NOT NULL AND fwd IS NOT NULL),
rk AS (
  SELECT event_type, horizon,
         rank() OVER (PARTITION BY event_type, horizon ORDER BY sig)
           + (count(*) OVER (PARTITION BY event_type, horizon, sig) - 1) / 2.0 AS rx,
         rank() OVER (PARTITION BY event_type, horizon ORDER BY fwd)
           + (count(*) OVER (PARTITION BY event_type, horizon, fwd) - 1) / 2.0 AS ry
  FROM ok)
SELECT event_type, horizon, {R("corr(rx, ry)")} AS ic, count(*) AS n
FROM rk GROUP BY event_type, horizon""",
)
def q_ic_decay(spark, sf_dir):
    """IC decay profile: Spearman of volume vs the 1/5/10-step forward
    return per ticker — all leads in one window pass, stacked, midranked
    per (ticker, horizon)."""
    from ffn_polars_spark.operators.evaluation import ic_decay

    t = ticks(spark, sf_dir)
    out = ic_decay(
        t, "volume", "price", "ts_ns", horizons=(1, 5, 10),
        by="event_type", tie_col="event_id",
    )
    return out.select("event_type", "horizon", r6("ic").alias("ic"), "n")


@query(
    "cusum_changepoints",
    _mat(
        TICKS_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""", f AS (
  SELECT event_type, ts_ns, price,
         row_number() OVER (PARTITION BY event_type ORDER BY ts_ns, event_id) AS rn
  FROM ticks),
walk AS (
  SELECT event_type, rn, ts_ns, price,
         greatest(0.0, (price - 105.0) - 0.5) AS sp,
         greatest(0.0, -(price - 105.0) - 0.5) AS sn,
         (greatest(0.0, (price - 105.0) - 0.5) > 50.0
          OR greatest(0.0, -(price - 105.0) - 0.5) > 50.0) AS alarm,
         CAST(1 AS BIGINT) AS seg
  FROM f WHERE rn = 1
  UNION ALL
  SELECT x.event_type, x.rn, x.ts_ns, x.price,
         greatest(0.0, (CASE WHEN w.alarm THEN 0.0 ELSE w.sp END)
                       + (x.price - 105.0) - 0.5),
         greatest(0.0, (CASE WHEN w.alarm THEN 0.0 ELSE w.sn END)
                       - (x.price - 105.0) - 0.5),
         (greatest(0.0, (CASE WHEN w.alarm THEN 0.0 ELSE w.sp END)
                        + (x.price - 105.0) - 0.5) > 50.0
          OR greatest(0.0, (CASE WHEN w.alarm THEN 0.0 ELSE w.sn END)
                           - (x.price - 105.0) - 0.5) > 50.0),
         w.seg + CASE WHEN w.alarm THEN 1 ELSE 0 END
  FROM walk w JOIN f x ON x.event_type = w.event_type AND x.rn = w.rn + 1)
SELECT event_type, ts_ns, sp AS cusum_pos, sn AS cusum_neg,
       CASE WHEN alarm THEN 1 ELSE 0 END AS alarm,
       seg AS segment_id
FROM walk""",
        "ticks", "f",
    ),
)
def q_cusum_changepoints(spark, sf_dir):
    """Two-sided CUSUM mean-shift monitor on the price tape (target 105,
    drift 0.5, threshold 50): JVM staging, per-key Arrow reset-walk,
    recursive-CTE oracle replaying the identical IEEE recurrence —
    bit-exact state, no rounding."""
    from ffn_polars_spark.operators.recursive import cusum_changepoints

    t = ticks(spark, sf_dir)
    out = cusum_changepoints(
        t, "ts_ns", "price", target=105.0, threshold=50.0, drift=0.5,
        by=["event_type"],
    )
    return out.select(
        "event_type", "ts_ns", "cusum_pos", "cusum_neg",
        F.col("alarm").cast("int").alias("alarm"), "segment_id",
    )


@query(
    "quantile_transform",
    """
WITH q AS (
  SELECT event_type, event_id, value,
         (rank() OVER (PARTITION BY event_type ORDER BY value)
            + (count(*) OVER (PARTITION BY event_type, value) - 1) / 2.0
            - 0.5)
           / count(value) OVER (PARTITION BY event_type) AS value_quantile
  FROM events)
SELECT event_type, event_id, value_quantile FROM q""",
)
def q_quantile_transform(spark, sf_dir):
    """Hazen rank-uniform transform of value within each event_type —
    midranks over one exchange (tie and count windows reuse the rank
    window's partitioning), exact rational output."""
    from ffn_polars_spark.operators.sketch import quantile_transform

    ev = read_table(spark, sf_dir, "events")
    out = quantile_transform(
        ev.select("event_type", "event_id", "value"), "value",
        by=["event_type"],
    )
    return out.select("event_type", "event_id", "value_quantile")


@query(
    "bipower_variation",
    TICKS_SQL
    + f""", r AS (
  SELECT event_type, ts_ns, event_id,
         ln(price) - lag(ln(price)) OVER ({W}) AS lr
  FROM ticks),
w2 AS (
  SELECT event_type, lr, lag(lr) OVER ({W}) AS lrl
  FROM r)
SELECT event_type,
       {R("sum(lr * lr)")} AS rv,
       {R("pi() / 2.0 * sum(abs(lr) * abs(lrl))")} AS bv,
       {R("CASE WHEN sum(lr * lr) > 0 THEN greatest(sum(lr * lr) - pi() / 2.0 * sum(abs(lr) * abs(lrl)), 0.0) / sum(lr * lr) END")} AS jump_share,
       count(lr) AS n
FROM w2 GROUP BY event_type""",
)
def q_bipower_variation(spark, sf_dir):
    """Jump-robust bipower variation vs plain realized variance per
    ticker, with the relative jump contribution — one ordered window pass
    (return + its lag share the sort) and one aggregate."""
    from ffn_polars_spark.functions.tick_price import bipower_variation

    t = ticks(spark, sf_dir)
    out = bipower_variation(
        t, "price", order_by=["ts_ns", "event_id"], by=["event_type"]
    )
    return out.select(
        "event_type",
        r6("rv").alias("rv"),
        r6("bv").alias("bv"),
        r6("jump_share").alias("jump_share"),
        "n",
    )


_RV_SIG_BLOCK = """SELECT event_type, CAST({iv} AS BIGINT) AS interval_ns,
       {rv} AS rv, n_buckets
FROM (
  SELECT event_type,
         floor(sum(lr * lr) * 1000000.0 + 0.5) / 1000000.0 AS _r,
         sum(lr * lr) AS _raw, count(*) AS n_buckets
  FROM (
    SELECT event_type,
           ln(close) - lag(ln(close)) OVER (PARTITION BY event_type ORDER BY b) AS lr
    FROM (
      SELECT event_type, CAST(floor(ts_ns / {iv}.0) AS BIGINT) AS b,
             arg_max(price, ts_ns) AS close
      FROM ticks GROUP BY event_type, CAST(floor(ts_ns / {iv}.0) AS BIGINT)))
  GROUP BY event_type)"""


@query(
    "rv_signature",
    TICKS_SQL
    + "\n"
    + "\nUNION ALL\n".join(
        _RV_SIG_BLOCK.format(iv=iv, rv="_r")
        for iv in (60_000_000_000, 300_000_000_000, 600_000_000_000)
    ),
)
def q_rv_signature(spark, sf_dir):
    """Volatility signature plot: realized variance from last-tick closes
    on 1/5/10-minute grids per ticker — each interval's pipeline collapses
    to bucket cardinality at its first aggregate."""
    from ffn_polars_spark.functions.tick_price import rv_signature

    t = ticks(spark, sf_dir)
    out = rv_signature(
        t, "price", "ts_ns", by=["event_type"],
        intervals=[60_000_000_000, 300_000_000_000, 600_000_000_000],
    )
    return out.select(
        "event_type", "interval_ns", r6("rv").alias("rv"), "n_buckets"
    )


@query(
    "dedup_incremental",
    f"""
WITH new_fp AS (
  SELECT doc_id, md5({NORM_SQL}) AS fingerprint
  FROM documents WHERE doc_id % 2 = 1),
seen_fp AS (
  SELECT DISTINCT md5({NORM_SQL}) AS fingerprint
  FROM documents WHERE doc_id % 2 = 0)
SELECT min(doc_id) AS doc_id, fingerprint
FROM new_fp
WHERE fingerprint NOT IN (SELECT fingerprint FROM seen_fp)
GROUP BY fingerprint""",
)
def q_dedup_incremental(spark, sf_dir):
    """Incremental dedup of the odd-id batch against the even-id history:
    the history reduces to DISTINCT fingerprints before a left-anti join,
    then keep-first (min id) within the batch."""
    from ffn_polars_spark.operators.dedup import dedup_incremental

    docs = read_table(spark, sf_dir, "documents")
    new = docs.where(F.col("doc_id") % 2 == 1)
    seen = docs.where(F.col("doc_id") % 2 == 0)
    return dedup_incremental(new, seen)


@query(
    "zorder_key",
    "SELECT event_id, "
    + " + ".join(
        f"(((user_id >> {b}) & 1) << {2 * b}) + (((event_id >> {b}) & 1) << {2 * b + 1})"
        for b in range(16)
    )
    + " AS zorder FROM events",
)
def q_zorder_key(spark, sf_dir):
    """Morton Z-order interleave of (user_id, event_id) low 16 bits — the
    space-filling sort key for two-dimensional min/max pruning; pure
    whole-stage-codegen bit arithmetic, no shuffle."""
    from ffn_polars_spark.operators.pipeline import zorder_key

    ev = read_table(spark, sf_dir, "events")
    out = zorder_key(
        ev.select("event_id", "user_id"), "user_id", "event_id", bits=16
    )
    return out.select("event_id", "zorder")


@query(
    "seasonal_adjust",
    f"""
WITH e AS (
  SELECT event_type, event_id, value,
         CAST(floor((epoch_us(ts) * 1000 % 86400000000000) / 3600000000000) AS INT) AS phase
  FROM events),
pm AS (
  SELECT event_type, phase, avg(value) AS pm, count(value) AS pn
  FROM e GROUP BY event_type, phase),
gm AS (
  SELECT event_type, sum(pm * pn) / sum(pn) AS gm
  FROM pm GROUP BY event_type),
idx AS (
  SELECT pm.event_type, pm.phase,
         CASE WHEN gm.gm <> 0 THEN pm.pm / gm.gm END AS seasonal_index
  FROM pm JOIN gm USING (event_type))
SELECT e.event_type, e.event_id, e.phase,
       {R("idx.seasonal_index")} AS seasonal_index,
       {R("CASE WHEN idx.seasonal_index <> 0 THEN e.value / idx.seasonal_index END")} AS value_adjusted
FROM e JOIN idx ON e.event_type = idx.event_type AND e.phase = idx.phase""",
)
def q_seasonal_adjust(spark, sf_dir):
    """Hour-of-day multiplicative seasonal normalization of event values
    per type: phase means + a weighted grand mean over the 24-row phase
    frame, broadcast back — the big table aggregates exactly once."""
    from ffn_polars_spark.operators.pipeline import seasonal_adjust

    ev = read_table(spark, sf_dir, "events")
    t = ticks(spark, sf_dir).select("event_type", "event_id", "ts_ns").join(
        ev.select("event_id", "value"), "event_id"
    )
    out = seasonal_adjust(
        t, "value", "ts_ns", by="event_type",
        period_ns=86_400_000_000_000, buckets=24,
    )
    return out.select(
        "event_type", "event_id", "phase",
        r6("seasonal_index").alias("seasonal_index"),
        r6("value_adjusted").alias("value_adjusted"),
    )


_CUSUM_WALK_SQL = """, f AS (
  SELECT event_type, ts_ns, price,
         row_number() OVER (PARTITION BY event_type ORDER BY ts_ns, event_id) AS rn
  FROM ticks),
walk AS (
  SELECT event_type, rn, ts_ns, price,
         greatest(0.0, (price - 105.0) - 0.5) AS sp,
         greatest(0.0, -(price - 105.0) - 0.5) AS sn,
         (greatest(0.0, (price - 105.0) - 0.5) > 50.0
          OR greatest(0.0, -(price - 105.0) - 0.5) > 50.0) AS alarm,
         CAST(1 AS BIGINT) AS seg
  FROM f WHERE rn = 1
  UNION ALL
  SELECT x.event_type, x.rn, x.ts_ns, x.price,
         greatest(0.0, (CASE WHEN w.alarm THEN 0.0 ELSE w.sp END)
                       + (x.price - 105.0) - 0.5),
         greatest(0.0, (CASE WHEN w.alarm THEN 0.0 ELSE w.sn END)
                       - (x.price - 105.0) - 0.5),
         (greatest(0.0, (CASE WHEN w.alarm THEN 0.0 ELSE w.sp END)
                        + (x.price - 105.0) - 0.5) > 50.0
          OR greatest(0.0, (CASE WHEN w.alarm THEN 0.0 ELSE w.sn END)
                           - (x.price - 105.0) - 0.5) > 50.0),
         w.seg + CASE WHEN w.alarm THEN 1 ELSE 0 END
  FROM walk w JOIN f x ON x.event_type = w.event_type AND x.rn = w.rn + 1)"""


@query(
    "streaming_cusum",
    _mat(
        TICKS_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + _CUSUM_WALK_SQL
    + """
SELECT event_type, count(*) AS n_events,
       CAST(sum(CASE WHEN alarm THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
       arg_max(CASE WHEN alarm THEN 0.0 ELSE sp END, rn) AS cusum_pos,
       arg_max(CASE WHEN alarm THEN 0.0 ELSE sn END, rn) AS cusum_neg
FROM walk GROUP BY event_type""",
        "ticks", "f",
    ),
)
def q_streaming_cusum(spark, sf_dir):
    """Streaming two-sided CUSUM (applyInPandasWithState) — the online
    twin of cusum_changepoints with state chained across micro-batches;
    a drained run's final per-key state is bit-identical to the batch
    walk's last row (post-reset), which the recursive-CTE oracle
    replays."""
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        stateful_cusum,
    )

    stage = _stage_stream_dir(sf_dir, "events", "ffn_stream")
    stream = (
        read_tick_stream(spark, stage, ts_col="ts")
        .withColumn("price", F.lit(100.0) + F.col("value") / F.lit(10.0))
        .withColumn("ts_ns", F.unix_micros(F.col("event_time")) * F.lit(1000))
    )
    out = stateful_cusum(
        stream, "event_type", "ts_ns", "price",
        target=105.0, threshold=50.0, drift=0.5,
    )
    drained = run_available_now(out, output_mode="update")
    return drained.select(
        "event_type", "n_events", "n_alarms", "cusum_pos", "cusum_neg"
    )


@query(
    "triple_barrier_label",
    TICKS_SQL
    + f""", f AS (
  SELECT event_type, event_id, ts_ns, price,
         row_number() OVER ({W}) AS rn
  FROM ticks),
j AS (
  SELECT a.event_type, a.event_id, a.price, a.rn,
         min(CASE WHEN b.price >= a.price * {1.0 + 0.002!r} THEN b.rn - a.rn END) AS u1,
         min(CASE WHEN b.price <= a.price * {1.0 - 0.002!r} THEN b.rn - a.rn END) AS d1
  FROM f a LEFT JOIN f b
    ON b.event_type = a.event_type AND b.rn BETWEEN a.rn + 1 AND a.rn + 20
  GROUP BY a.event_type, a.event_id, a.price, a.rn)
SELECT event_type, event_id,
       CASE WHEN u1 IS NOT NULL AND (d1 IS NULL OR u1 <= d1) THEN 1
            WHEN d1 IS NOT NULL THEN -1 ELSE 0 END AS label,
       CASE WHEN u1 IS NULL THEN d1 WHEN d1 IS NULL THEN u1
            ELSE least(u1, d1) END AS first_hit
FROM j""",
)
def q_triple_barrier_label(spark, sf_dir):
    """Triple-barrier labels (±0.2% barriers, 20-tick time barrier) per
    ticker: one bounded-frame future-price array window + JVM array
    lambdas for the first-touch indices — no self-join; the oracle
    replays it as a bounded range self-join."""
    from ffn_polars_spark.functions.tick_bars import triple_barrier_label

    t = ticks(spark, sf_dir)
    out = triple_barrier_label(
        t, "price", "ts_ns", horizon=20, up_pct=0.002, down_pct=0.002,
        by=["event_type"],
    )
    return out.select(
        "event_type", "event_id", "label",
        F.col("first_hit").cast("long").alias("first_hit"),
    )


@query(
    "walkforward_split",
    """
WITH e AS (SELECT CAST(epoch_us(ts) * 1000 AS DOUBLE) AS tsd FROM events),
c AS (SELECT quantile_cont(tsd, 0.2) AS c1, quantile_cont(tsd, 0.4) AS c2,
             quantile_cont(tsd, 0.6) AS c3, quantile_cont(tsd, 0.8) AS c4
      FROM e),
b AS (
  SELECT tsd,
         (CASE WHEN tsd > c.c1 THEN 1 ELSE 0 END
          + CASE WHEN tsd > c.c2 THEN 1 ELSE 0 END
          + CASE WHEN tsd > c.c3 THEN 1 ELSE 0 END
          + CASE WHEN tsd > c.c4 THEN 1 ELSE 0 END) AS blk
  FROM e, c),
m AS (
  SELECT f.fold, b.tsd, b.blk,
         CASE WHEN b.blk < f.fold THEN 'train'
              WHEN b.blk = f.fold THEN 'test' END AS role
  FROM b CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS fold) f)
SELECT CAST(fold AS INT) AS fold, role, count(*) AS n_rows,
       min(tsd) AS min_ts, max(tsd) AS max_ts
FROM m WHERE role IS NOT NULL GROUP BY fold, role""",
)
def q_walkforward_split(spark, sf_dir):
    """Rolling-origin 4-fold walk-forward assignment over the event
    timeline: exact time-quantile cutoffs as a 1-row broadcast, block
    membership by comparison, triangular (fold, role) explode — verified
    here as the per-(fold, role) row count and time span."""
    from ffn_polars_spark.operators.pipeline import walkforward_split

    ev = read_table(spark, sf_dir, "events")
    e = ev.select(ts_ns_col(ev).cast("double").alias("tsd"))
    out = walkforward_split(e, "tsd", n_folds=4)
    return out.groupBy(F.col("fold").cast("int").alias("fold"), "role").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("tsd").alias("min_ts"),
        F.max("tsd").alias("max_ts"),
    )


@query(
    "volume_curve",
    TICKS_SQL
    + f""", pb AS (
  SELECT event_type,
         CAST(floor(ts_ns / 86400000000000.0) AS BIGINT) AS day,
         CAST(floor((ts_ns % 86400000000000) / 3600000000000) AS INT) AS bucket,
         sum(volume) AS bv
  FROM ticks GROUP BY 1, 2, 3),
dt AS (SELECT event_type, day, sum(bv) AS dtot FROM pb GROUP BY event_type, day),
sh AS (
  SELECT pb.event_type, pb.bucket, pb.bv / dt.dtot AS share
  FROM pb JOIN dt ON pb.event_type = dt.event_type AND pb.day = dt.day
  WHERE dt.dtot > 0)
SELECT event_type, bucket,
       {R("avg(share)")} AS avg_share,
       count(*) AS n_days
FROM sh GROUP BY event_type, bucket""",
)
def q_volume_curve(spark, sf_dir):
    """Average hour-of-day participation curve per ticker: (key, day,
    bucket) sums, day totals re-aggregated from that frame, shares
    averaged across days — the tick table is read once."""
    from ffn_polars_spark.functions.tick_flow import volume_curve

    t = ticks(spark, sf_dir)
    out = volume_curve(
        t, "volume", "ts_ns", by="event_type",
        period_ns=86_400_000_000_000, buckets=24,
    )
    return out.select(
        "event_type", "bucket", r6("avg_share").alias("avg_share"), "n_days"
    )


@query(
    "kelly_fraction",
    TICKS_SQL
    + f""", r AS (
  SELECT event_type, price / lag(price) OVER ({W}) - 1 AS r
  FROM ticks)
SELECT event_type,
       {R("CASE WHEN var_samp(r) > 0 THEN avg(r) / var_samp(r) END")} AS r_kelly_fraction
FROM r GROUP BY event_type""",
)
def q_kelly_fraction(spark, sf_dir):
    """Gaussian Kelly-optimal leverage per ticker: mean excess return
    over sample variance — one aggregate after the returns window."""
    t = ticks(spark, sf_dir)
    pre = t.select(
        "event_type", ffn.eod.to_returns("price", over=TICK_OVER).alias("r")
    )
    return pre.groupBy("event_type").agg(
        r6(ffn.eod.kelly_fraction("r")).alias("r_kelly_fraction")
    )


@query(
    "bootstrap_ci",
    f"""
WITH src AS (SELECT event_type, event_id, value FROM events),
rep AS (
  SELECT t.trial, s.event_type, s.value,
         {_poisson16_ladder_sql(_BOOT_H16_SQL)} AS reps
  FROM range(100) t(trial) CROSS JOIN src s),
ex AS (SELECT trial, event_type, value, unnest(range(reps)) AS k FROM rep),
tm AS (SELECT event_type, trial, avg(value) AS m FROM ex GROUP BY event_type, trial),
ci AS (
  SELECT event_type,
         quantile_cont(m, 0.05) AS lo, quantile_cont(m, 0.95) AS hi,
         count(*) AS n_trials
  FROM tm GROUP BY event_type),
pt AS (SELECT event_type, avg(value) AS mean FROM src GROUP BY event_type)
SELECT pt.event_type, {R("pt.mean")} AS mean,
       {R("ci.lo")} AS ci_lo, {R("ci.hi")} AS ci_hi, ci.n_trials
FROM pt JOIN ci USING (event_type)""",
)
def q_bootstrap_ci(spark, sf_dir):
    """90% percentile-bootstrap CI for the mean event value per type: 100
    deterministic blocked-md5 Poisson replicates (the resample_returns
    machinery), trial means, exact percentiles — an error bar any engine
    replays bit-for-bit."""
    from ffn_polars_spark.operators.resample import bootstrap_ci

    ev = read_table(spark, sf_dir, "events")
    out = bootstrap_ci(
        ev.select("event_type", "event_id", "value"), "value",
        by=["event_type"], num_trials=100, alpha=0.1,
        key_col="event_id", seed=7,
    )
    return out.select(
        "event_type", r6("mean").alias("mean"),
        r6("ci_lo").alias("ci_lo"), r6("ci_hi").alias("ci_hi"), "n_trials",
    )


@query(
    "fuzzy_match_pairs",
    """
WITH p AS (SELECT p_partkey, p_name, p_brand FROM part)
SELECT a.p_brand, a.p_partkey AS id_a, b.p_partkey AS id_b,
       a.p_name AS text_a, b.p_name AS text_b,
       levenshtein(a.p_name, b.p_name) AS distance
FROM p a JOIN p b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2""",
)
def q_fuzzy_match_pairs(spark, sf_dir):
    """Blocked fuzzy record linkage on part names (block = brand,
    levenshtein <= 2): the equi-keyed self-join bounds cost at
    sum-of-block-squared, and the JVM edit distance runs on candidates
    only."""
    from ffn_polars_spark.operators.dedup import fuzzy_match_pairs

    part = read_table(spark, sf_dir, "part")
    return fuzzy_match_pairs(
        part, "p_name", "p_partkey", "p_brand", max_dist=2, max_block=1000
    )


@query(
    "containment_pairs",
    f"""
WITH {TRIGRAM_SQL},
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM shd a JOIN shd b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT id_a, id_b,
       {R("i / CAST(sa.sz AS DOUBLE)")} AS containment_a,
       {R("i / CAST(sb.sz AS DOUBLE)")} AS containment_b
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE {R("i / CAST(sa.sz AS DOUBLE)")} >= 0.5
   OR {R("i / CAST(sb.sz AS DOUBLE)")} >= 0.5""",
)
def q_containment_pairs(spark, sf_dir):
    """Asymmetric shingle containment (quote-inclusion near-dups that
    symmetric Jaccard misses), same inverted-index join bound as
    ngram_jaccard_pairs."""
    from ffn_polars_spark.operators.dedup import containment_pairs

    docs = read_table(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold=0.5, n=3)


@query(
    "pruning_stats",
    TICKS_SQL
    + """, pb AS (
  SELECT CAST(floor(ts_ns / 86400000000000.0) AS BIGINT) AS bkt,
         min(price) AS lo, max(price) AS hi, count(*) AS n
  FROM ticks GROUP BY 1)
SELECT count(*) AS n_buckets,
       CAST(sum(CASE WHEN hi < 105.0 OR lo > 106.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
       CAST(sum(n) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN hi < 105.0 OR lo > 106.0 THEN n ELSE 0 END) AS BIGINT) AS rows_pruned,
       CAST(sum(CASE WHEN hi < 105.0 OR lo > 106.0 THEN n ELSE 0 END) AS DOUBLE)
         / CAST(sum(n) AS DOUBLE) AS prune_fraction
FROM pb""",
)
def q_pruning_stats(spark, sf_dir):
    """Data-skipping audit: day-bucketed min/max stats on price vs a
    [105, 106] predicate — how much a time-sorted layout can prune a
    price filter (the measurement that motivates zorder_key)."""
    from ffn_polars_spark.operators.quality import pruning_stats

    t = ticks(spark, sf_dir)
    return pruning_stats(
        t, "ts_ns", "price", lo=105.0, hi=106.0,
        bucket_width=86_400_000_000_000,
    )


@query(
    "bucketed_join",
    f"""
SELECT o.o_orderpriority, count(*) AS n_orders,
       {R("avg(o.o_totalprice)")} AS avg_totalprice,
       count(DISTINCT c.c_nationkey) AS n_nations
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY o.o_orderpriority""",
)
def q_bucketed_join(spark, sf_dir):
    """Co-located bucketed join: orders and customer persisted bucketed +
    bucket-sorted by the customer key into the same bucket count, then
    joined with NO exchange on either side (the sort-merge join reads
    pre-sorted buckets) — the layout that removes the dominant shuffle
    from every future fact/dim join at 100 TB. The one-time bucketed
    write pays that shuffle once; tests/test_plans.py pins the
    exchange-free plan."""
    import hashlib
    import os

    from ffn_polars_spark.sources import write_bucketed_table

    key = hashlib.md5(os.path.normpath(sf_dir).encode()).hexdigest()[:10]
    lt, rt = f"ffn_bkt_orders_{key}", f"ffn_bkt_customer_{key}"
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    write_bucketed_table(orders, lt, "o_custkey", n_buckets=8)
    write_bucketed_table(customer, rt, "c_custkey", n_buckets=8)
    o = spark.table(lt)
    # the merge hint forces the sort-merge path (a small dim would
    # otherwise broadcast) so the bucketed, exchange-free join is what
    # actually runs — at real fact×fact scale SMJ is the planner's own
    # choice and the hint is unnecessary
    c = spark.table(rt).hint("merge")
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        r6(F.avg("o_totalprice")).alias("avg_totalprice"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )


@query(
    "embedding_covariance",
    f"""
WITH e AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
m AS (SELECT i, avg(x) AS mi FROM e GROUP BY i),
p AS (
  SELECT a.i AS i, b.i AS j, sum(a.x * b.x) AS sxy, count(*) AS n
  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY a.i, b.i),
cv AS (
  SELECT p.i, p.j, p.sxy / p.n - ma.mi * mb.mi AS cov
  FROM p JOIN m ma ON ma.i = p.i JOIN m mb ON mb.i = p.j),
dg AS (SELECT i, cov AS v FROM cv WHERE i = j)
SELECT cv.i, cv.j, {R("cv.cov")} AS cov,
       {R("CASE WHEN di.v > 0 AND dj.v > 0 THEN cv.cov / sqrt(di.v * dj.v) END")} AS corr
FROM cv JOIN dg di ON di.i = cv.i JOIN dg dj ON dj.i = cv.j""",
)
def q_embedding_covariance(spark, sf_dir):
    """Upper-triangle covariance/correlation of the 64-dim embeddings:
    mapInPandas per-partition moment partials (XᵀX + Σx per Arrow
    batch, zero shuffle of row data), one aggregate to the d²/2-sized
    output, means and diagonal broadcast in. Measured 97x over the old
    posexplode+self-join shape at d=1024 (docs/scaling.md)."""
    from ffn_polars_spark.operators.similarity import embedding_covariance

    emb = read_table(spark, sf_dir, "embeddings")
    out = embedding_covariance(emb)
    return out.select(
        "i", "j", r6("cov").alias("cov"), r6("corr").alias("corr")
    )


@query(
    "market_basket",
    f"""
WITH bi AS (SELECT DISTINCT user_id AS b, event_type AS itm FROM events),
nb AS (SELECT count(DISTINCT b) AS n FROM bi),
s AS (SELECT itm, count(*) AS n1 FROM bi GROUP BY itm),
co AS (
  SELECT a.itm AS item_a, b.itm AS item_b, count(*) AS n_co
  FROM bi a JOIN bi b ON a.b = b.b AND a.itm < b.itm
  GROUP BY a.itm, b.itm)
SELECT co.item_a, co.item_b, co.n_co,
       {R("co.n_co / CAST(nb.n AS DOUBLE)")} AS support,
       {R("co.n_co / CAST(sa.n1 AS DOUBLE)")} AS confidence_a,
       {R("co.n_co / CAST(sb.n1 AS DOUBLE)")} AS confidence_b,
       {R("co.n_co * CAST(nb.n AS DOUBLE) / (CAST(sa.n1 AS DOUBLE) * CAST(sb.n1 AS DOUBLE))")} AS lift
FROM co
JOIN s sa ON sa.itm = co.item_a
JOIN s sb ON sb.itm = co.item_b
CROSS JOIN nb""",
)
def q_market_basket(spark, sf_dir):
    """Pairwise association rules over (user, event_type) baskets:
    DISTINCT before the basket-keyed self-join (the Apriori cost bound),
    exact integer counts, singles broadcast back."""
    from ffn_polars_spark.operators.funnel import market_basket

    ev = read_table(spark, sf_dir, "events")
    out = market_basket(ev, "user_id", "event_type")
    return out.select(
        "item_a", "item_b", "n_co",
        r6("support").alias("support"),
        r6("confidence_a").alias("confidence_a"),
        r6("confidence_b").alias("confidence_b"),
        r6("lift").alias("lift"),
    )


@query(
    "attribution",
    f"""
WITH e AS (SELECT user_id, epoch_us(ts) * 1000 AS ts_ns, event_type, value FROM events),
b AS (
  SELECT user_id, ts_ns, event_type, value,
         CASE WHEN lag(ts_ns) OVER w IS NULL
                   OR ts_ns - lag(ts_ns) OVER w > 3600000000000 THEN 1 ELSE 0 END AS boundary
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns)),
s AS (
  SELECT user_id, ts_ns, event_type, value,
         CAST(sum(boundary) OVER (PARTITION BY user_id ORDER BY ts_ns
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_id
  FROM b),
c AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' THEN ts_ns END)
              OVER (PARTITION BY user_id, session_id) AS conv_ts
  FROM s)
SELECT user_id, session_id,
       arg_min(event_type, ts_ns) AS first_touch,
       arg_max(CASE WHEN conv_ts IS NOT NULL AND ts_ns < conv_ts THEN event_type END,
               CASE WHEN conv_ts IS NOT NULL AND ts_ns < conv_ts THEN ts_ns END) AS last_touch,
       {R("sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END)")} AS conversion_value,
       count(*) AS n_events
FROM c GROUP BY user_id, session_id""",
)
def q_attribution(spark, sf_dir):
    """First/last-touch session attribution over the 1-hour-gap sessions:
    boundary + cumsum windows, a session-scoped first-conversion time,
    and one per-session aggregate — a single exchange on the user key."""
    from ffn_polars_spark.operators.sessions import attribution

    ev = read_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id", ts_ns_col(ev).alias("ts_ns"), "event_type", "value"
    )
    out = attribution(
        e, "ts_ns", "user_id", "event_type",
        (F.col("event_type") == "purchase"), "value",
        gap=3600 * 1_000_000_000,
    )
    return out.select(
        "user_id", "session_id", "first_touch", "last_touch",
        r6("conversion_value").alias("conversion_value"), "n_events",
    )


@query(
    "luhn_validate",
    """
WITH c AS (
  SELECT o_orderkey, lpad(CAST(o_orderkey * 7919 AS VARCHAR), 16, '4') AS candidate
  FROM orders),
d AS (
  SELECT c.o_orderkey, c.candidate, g.p,
         ascii(substr(c.candidate, CAST(g.p AS INT), 1)) - 48 AS dg,
         len(c.candidate) AS n
  FROM c CROSS JOIN generate_series(1, 16) g(p)),
s AS (
  SELECT o_orderkey, candidate,
         sum(CASE WHEN (n - p) % 2 = 1
                  THEN CASE WHEN dg > 4 THEN dg * 2 - 9 ELSE dg * 2 END
                  ELSE dg END) AS tot
  FROM d GROUP BY o_orderkey, candidate)
SELECT o_orderkey, candidate, (tot % 10 = 0) AS luhn_valid
FROM s""",
)
def q_luhn_validate(spark, sf_dir):
    """Luhn mod-10 validation of synthetic 16-digit candidates (zero-UDF
    indexed transform + aggregate): the precision gate behind card-number
    redaction."""
    from ffn_polars_spark.operators.text import luhn_validate

    orders = read_table(spark, sf_dir, "orders")
    cands = orders.select(
        "o_orderkey",
        F.lpad((F.col("o_orderkey") * 7919).cast("string"), 16, "4").alias(
            "candidate"
        ),
    )
    return luhn_validate(cands, "candidate").select(
        "o_orderkey", "candidate", "luhn_valid"
    )


def _pagerank_oracle_sql(iterations: int = 15, d: float = 0.85) -> str:
    """Unrolled PageRank replay: DuckDB recursive CTEs cannot aggregate in
    the recursive term, so each iteration is its own CTE — same float
    expression order as operators/graph.py (constants computed in-engine
    from the same literals, so the doubles match bit-for-bit)."""
    base = """
WITH edges AS MATERIALIZED (
  SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
od AS (SELECT src, count(*) AS c FROM edges GROUP BY src),
r0 AS MATERIALIZED (
  SELECT nodes.node, coalesce(od.c, 0) AS out_degree, 1.0 / nn.n AS rank
  FROM nodes LEFT JOIN od ON od.src = nodes.node CROSS JOIN nn)"""
    its = []
    for k in range(1, iterations + 1):
        p = k - 1
        its.append(f"""r{k} AS MATERIALIZED (
  SELECT nd.node, nd.out_degree,
         (1.0 - {d!r}) / nn.n
           + {d!r} * (coalesce(cin.s, 0.0) + dg.m / nn.n) AS rank
  FROM r{p} nd
  LEFT JOIN (SELECT e.dst AS node, sum(r.rank / r.out_degree) AS s
             FROM edges e JOIN r{p} r ON r.node = e.src
             GROUP BY e.dst) cin ON cin.node = nd.node
  CROSS JOIN (SELECT coalesce(sum(rank), 0.0) AS m
              FROM r{p} WHERE out_degree = 0) dg
  CROSS JOIN nn)""")
    return (
        base + ",\n" + ",\n".join(its)
        + f"""
SELECT node, {R('rank')} AS rank, CAST(out_degree AS BIGINT) AS out_degree
FROM r{iterations}"""
    )


@query("pagerank", _pagerank_oracle_sql(15, 0.85))
def q_pagerank(spark, sf_dir):
    """PageRank over the supplier-nation → customer-nation trade graph:
    the edge aggregation is the distributed step (fact-table joins,
    DISTINCT), then 15 flat-lineage iterations on the entity-sized
    frames; the oracle replays the identical float recurrence unrolled."""
    from ffn_polars_spark.operators.graph import pagerank

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    supp = read_table(spark, sf_dir, "supplier")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
    )
    out = pagerank(edges, damping=0.85, iterations=15)
    return out.select(
        "node", r6("rank").alias("rank"), F.col("out_degree").cast("long").alias("out_degree")
    )


@query(
    "pareto_front",
    """
WITH pts AS (
  SELECT p_brand, p_size, p_retailprice, min(p_partkey) AS p_partkey
  FROM part GROUP BY p_brand, p_size, p_retailprice),
sw AS (
  SELECT p_brand, p_size, p_retailprice, p_partkey,
         max(p_retailprice) OVER (
           PARTITION BY p_brand
           ORDER BY p_size DESC, p_retailprice DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM pts)
SELECT p_brand, p_size, p_retailprice, p_partkey
FROM sw WHERE pm IS NULL OR p_retailprice > pm""",
)
def q_pareto_front(spark, sf_dir):
    """Per-brand Pareto frontier maximizing (size, retail price): the
    skyline sweep as one ordered window over deduplicated points — no
    pairwise dominance join."""
    from ffn_polars_spark.operators.quality import pareto_front

    part = read_table(spark, sf_dir, "part")
    return pareto_front(
        part, "p_size", "p_retailprice", by=["p_brand"], id_col="p_partkey"
    )


@query(
    "cdc_merge",
    """
WITH snap AS (SELECT c_custkey, c_acctbal AS bal FROM customer),
ch AS (
  SELECT o_custkey AS c_custkey, o_orderkey AS ts,
         CASE o_orderkey % 3 WHEN 0 THEN 'U' WHEN 1 THEN 'D' ELSE 'I' END AS op,
         o_totalprice AS bal
  FROM orders),
last AS (
  SELECT c_custkey, op, bal FROM ch
  QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY ts DESC) = 1),
j AS (
  SELECT coalesce(s.c_custkey, l.c_custkey) AS c_custkey,
         l.op, s.bal AS sbal, l.bal AS lbal
  FROM snap s FULL OUTER JOIN last l ON s.c_custkey = l.c_custkey)
SELECT c_custkey,
       CASE WHEN op IS NULL THEN sbal ELSE lbal END AS bal
FROM j WHERE op IS NULL OR op <> 'D'""",
)
def q_cdc_merge(spark, sf_dir):
    """MERGE-INTO semantics applied relationally: the change log collapses
    to one winner per key (max_by on the change sequence) before a single
    full-outer join against the snapshot; deletes drop, upserts replace,
    untouched keys pass through."""
    from ffn_polars_spark.operators.scd import cdc_merge

    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    snap = cust.select("c_custkey", F.col("c_acctbal").alias("bal"))
    ch = orders.select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderkey").alias("ts"),
        F.when(F.col("o_orderkey") % 3 == 0, "U")
        .when(F.col("o_orderkey") % 3 == 1, "D")
        .otherwise("I")
        .alias("op"),
        F.col("o_totalprice").alias("bal"),
    )
    return cdc_merge(snap, ch, "c_custkey", "ts", "op", ["bal"])


@query(
    "mutual_information",
    TICKS_SQL
    + f""", st AS (
  SELECT event_type, min(price) AS xlo, max(price) AS xhi,
         min(volume) AS ylo, max(volume) AS yhi
  FROM ticks GROUP BY event_type),
bnd AS (
  SELECT t.event_type,
         CASE WHEN st.xhi - st.xlo > 0
              THEN CAST(least(floor((t.price - st.xlo) / (st.xhi - st.xlo) * 8.0), 7) AS INT)
              ELSE 0 END AS i,
         CASE WHEN st.yhi - st.ylo > 0
              THEN CAST(least(floor((t.volume - st.ylo) / (st.yhi - st.ylo) * 8.0), 7) AS INT)
              ELSE 0 END AS j
  FROM ticks t JOIN st USING (event_type)),
joint AS (SELECT event_type, i, j, count(*) AS nij FROM bnd GROUP BY event_type, i, j),
wj AS (
  SELECT event_type, i, j, nij,
         CAST(sum(nij) OVER (PARTITION BY event_type) AS DOUBLE) AS nn,
         CAST(sum(nij) OVER (PARTITION BY event_type, i) AS DOUBLE) AS ni,
         CAST(sum(nij) OVER (PARTITION BY event_type, j) AS DOUBLE) AS nj
  FROM joint),
mi AS (
  SELECT event_type,
         sum((nij / nn) * ln((nij / nn) * nn * nn / (ni * nj))) AS mi,
         CAST(max(nn) AS BIGINT) AS n
  FROM wj GROUP BY event_type),
mx AS (SELECT event_type, i, sum(nij) AS c FROM joint GROUP BY event_type, i),
my AS (SELECT event_type, j, sum(nij) AS c FROM joint GROUP BY event_type, j),
hx AS (
  SELECT event_type, sum(-(CAST(c AS DOUBLE) / t) * ln(CAST(c AS DOUBLE) / t)) AS h
  FROM (SELECT event_type, i, c,
               CAST(sum(c) OVER (PARTITION BY event_type) AS DOUBLE) AS t FROM mx)
  GROUP BY event_type),
hy AS (
  SELECT event_type, sum(-(CAST(c AS DOUBLE) / t) * ln(CAST(c AS DOUBLE) / t)) AS h
  FROM (SELECT event_type, j, c,
               CAST(sum(c) OVER (PARTITION BY event_type) AS DOUBLE) AS t FROM my)
  GROUP BY event_type)
SELECT mi.event_type, {R("mi.mi")} AS mi,
       {R("CASE WHEN least(hx.h, hy.h) > 0 THEN mi.mi / least(hx.h, hy.h) END")} AS mi_normalized,
       mi.n
FROM mi JOIN hx USING (event_type) JOIN hy USING (event_type)""",
)
def q_mutual_information(spark, sf_dir):
    """Binned mutual information between price and volume per ticker
    (8x8 equal-width grid): joint counts once, marginals and entropies
    re-aggregated from the bins² frame — the dependence measure that
    sees non-monotone structure Spearman cannot."""
    from ffn_polars_spark.operators.evaluation import mutual_information

    t = ticks(spark, sf_dir)
    out = mutual_information(t, "price", "volume", by="event_type", bins=8)
    return out.select(
        "event_type", r6("mi").alias("mi"),
        r6("mi_normalized").alias("mi_normalized"), "n",
    )


@query(
    "groupk_sample",
    """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':gsample:0'), 18, 15))::BIGINT
                    / 1152921504606846976.0 ASC, doc_id ASC) AS rk
  FROM documents)
WHERE rk <= 20""",
)
def q_groupk_sample(spark, sf_dir):
    """Deterministic exactly-20-per-source sample on md5 uniforms —
    stratified bottomk: partition-shape-independent, replayable by any
    engine, WindowGroupLimit prunes beyond k."""
    from ffn_polars_spark.operators.sketch import groupk_sample

    docs = read_table(spark, sf_dir, "documents")
    out = groupk_sample(docs, 20, by=["source"], id_col="doc_id")
    return out.select("doc_id", "source")


@query(
    "paired_ttest",
    TICKS_SQL
    + f""", rr AS (
  SELECT event_type,
         price / lag(price) OVER ({W}) - 1 AS r,
         price_b / lag(price_b) OVER ({W}) - 1 AS b
  FROM ticks),
ok AS (SELECT event_type, r - b AS d FROM rr WHERE r IS NOT NULL AND b IS NOT NULL),
m AS (
  SELECT event_type, avg(d) AS mean_diff, stddev_samp(d) AS sd,
         count(*) AS n
  FROM ok GROUP BY event_type)
SELECT event_type, {R("mean_diff")} AS mean_diff,
       {R("CASE WHEN sd > 0 AND n >= 2 THEN mean_diff / (sd / sqrt(CAST(n AS DOUBLE))) END")} AS t_stat,
       n
FROM m""",
)
def q_paired_ttest(spark, sf_dir):
    """Paired t-test of the two price columns' aligned returns per
    ticker — one pass over the per-row differences; t and df emitted,
    the CDF left to the caller so the computation stays replayable."""
    from ffn_polars_spark.operators.evaluation import paired_ttest

    t = ticks(spark, sf_dir)
    pre = t.select(
        "event_type",
        ffn.eod.to_returns("price", over=TICK_OVER).alias("r"),
        ffn.eod.to_returns("price_b", over=TICK_OVER).alias("b"),
    )
    out = paired_ttest(pre, "r", "b", by="event_type")
    return out.select(
        "event_type", r6("mean_diff").alias("mean_diff"),
        r6("t_stat").alias("t_stat"), "n",
    )


@query(
    "doc_perplexity",
    r"""
WITH tok0 AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents),
tok AS (SELECT doc_id, w FROM tok0 WHERE w <> ''),
v AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
t AS (SELECT CAST(sum(c) AS BIGINT) AS N, count(*) AS V FROM v),
sc AS (
  SELECT tok.doc_id,
         ln(CAST(v.c + 1 AS DOUBLE) / CAST(t.N + t.V AS DOUBLE)) AS lp
  FROM tok JOIN v USING (w) CROSS JOIN t),
a AS (SELECT doc_id, count(*) AS n_tokens,
             -sum(lp) / CAST(count(*) AS DOUBLE) AS ce
      FROM sc GROUP BY doc_id)
SELECT doc_id, n_tokens,
       floor(ce * 1000000.0 + 0.5) / 1000000.0 AS cross_entropy,
       floor(exp(ce) * 1000000.0 + 0.5) / 1000000.0 AS perplexity
FROM a""",
)
def q_doc_perplexity(spark, sf_dir):
    """Per-document cross-entropy under the corpus's own add-one unigram
    LM — the gibberish screen; vocabulary frame built once and joined
    back at vocab cardinality."""
    from ffn_polars_spark.operators.text import doc_perplexity

    docs = read_table(spark, sf_dir, "documents")
    out = doc_perplexity(docs)
    return out.select(
        "doc_id", "n_tokens",
        r6("cross_entropy").alias("cross_entropy"),
        r6("perplexity").alias("perplexity"),
    )


@query(
    "json_extract_stats",
    f"""
SELECT event_type, count(*) AS n_rows,
       CAST(count(CASE WHEN json_valid(props) THEN 1 END) AS BIGINT) AS n_json,
       CAST(count(json_extract_string(props, '$.k')) AS BIGINT) AS n_field,
       min(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS min_v,
       max(CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS max_v,
       {R("avg(CAST(json_extract_string(props, '$.k') AS DOUBLE))")} AS avg_v
FROM events GROUP BY event_type""",
)
def q_json_extract_stats(spark, sf_dir):
    """Schema-drift audit of the semi-structured props payload: native
    JSON path extraction (codegen, no UDF), parse/field/numeric-profile
    counters per event type."""
    from ffn_polars_spark.operators.wide import json_extract_stats

    ev = read_table(spark, sf_dir, "events")
    out = json_extract_stats(ev, "props", "$.k", by="event_type")
    return out.select(
        "event_type", "n_rows", "n_json", "n_field",
        "min_v", "max_v", r6("avg_v").alias("avg_v"),
    )


@query(
    "temporal_cooccurrence",
    """
WITH e AS (SELECT user_id, epoch_us(ts) * 1000 AS ts_ns, event_type FROM events)
SELECT a.event_type AS item_a, b.event_type AS item_b, count(*) AS n_co
FROM e a JOIN e b
  ON a.user_id = b.user_id
 AND a.event_type < b.event_type
 AND abs(a.ts_ns - b.ts_ns) <= 300000000000
GROUP BY a.event_type, b.event_type""",
)
def q_temporal_cooccurrence(spark, sf_dir):
    """Item pairs a user touches within 5 minutes of each other: the
    time-bucket decomposition keeps the join pure equi on (user,
    bucket) — each qualifying pair matches on exactly one bucket, so no
    dedup pass; the oracle replays it as a plain inequality join."""
    from ffn_polars_spark.operators.funnel import temporal_cooccurrence

    ev = read_table(spark, sf_dir, "events")
    e = ev.select("user_id", ts_ns_col(ev).alias("ts_ns"), "event_type")
    return temporal_cooccurrence(
        e, "ts_ns", "user_id", "event_type", window=300_000_000_000
    )


@query(
    "theil_sen_slope",
    TICKS_SQL
    + """, pts AS (
  SELECT event_type, ts_ns / 60000000000.0 AS x, price AS y,
         row_number() OVER (PARTITION BY event_type ORDER BY ts_ns / 60000000000.0) AS rn
  FROM ticks),
sz AS (SELECT event_type, max(rn) AS n FROM pts GROUP BY event_type),
tr AS (
  SELECT sz.event_type, sz.n, g.trial,
         CAST(floor((('0x' || substr(md5(sz.event_type || '|' || CAST(g.trial AS VARCHAR) || ':theilsen:a:0'), 18, 15))::BIGINT
               / 1152921504606846976.0) * sz.n) + 1 AS INT) AS i1,
         CAST(floor((('0x' || substr(md5(sz.event_type || '|' || CAST(g.trial AS VARCHAR) || ':theilsen:b:0'), 18, 15))::BIGINT
               / 1152921504606846976.0) * sz.n) + 1 AS INT) AS i2
  FROM sz CROSS JOIN (SELECT unnest(generate_series(1, 500)) AS trial) g),
ok AS (SELECT * FROM tr WHERE i1 <> i2),
sl AS (
  SELECT ok.event_type, (p2.y - p1.y) / (p2.x - p1.x) AS s, ok.n
  FROM ok
  JOIN pts p1 ON p1.event_type = ok.event_type AND p1.rn = ok.i1
  JOIN pts p2 ON p2.event_type = ok.event_type AND p2.rn = ok.i2
  WHERE p2.x <> p1.x)
SELECT event_type,
       floor(quantile_cont(s, 0.5) * 1000000.0 + 0.5) / 1000000.0 AS theil_sen_slope,
       count(*) AS n_pairs_used,
       CAST(max(n) AS BIGINT) AS n_points
FROM sl GROUP BY event_type""",
)
def q_theil_sen_slope(spark, sf_dir):
    """Sampled Theil-Sen robust trend of price vs time (minutes) per
    ticker: 500 md5-indexed point pairs, median slope by exact
    percentile — O(k) instead of the classical O(n²) all-pairs, with a
    draw any engine replays."""
    from ffn_polars_spark.operators.sketch import theil_sen_slope

    t = ticks(spark, sf_dir)
    pre = t.select(
        "event_type",
        (F.col("ts_ns") / F.lit(60_000_000_000.0)).alias("x"),
        F.col("price").alias("y"),
    )
    out = theil_sen_slope(
        pre, "x", "y", by=["event_type"], n_pairs=500, seed=0
    )
    return out.select(
        "event_type",
        r6("theil_sen_slope").alias("theil_sen_slope"),
        "n_pairs_used",
        "n_points",
    )


@query(
    "sorted_fuzzy_pairs",
    """
WITH r AS (
  SELECT p_brand, p_partkey, p_name,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_name, p_partkey) AS rn
  FROM part)
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       a.p_name AS text_a, b.p_name AS text_b,
       levenshtein(a.p_name, b.p_name) AS distance
FROM r a JOIN r b
  ON a.p_brand = b.p_brand AND b.rn BETWEEN a.rn + 1 AND a.rn + 10
WHERE levenshtein(a.p_name, b.p_name) <= 2""",
)
def q_sorted_fuzzy_pairs(spark, sf_dir):
    """Sorted-neighborhood linkage on part names (10-neighbor window
    inside each brand): O(n·w) by construction — the measured-linear
    replacement for blocked linkage's quadratic growth."""
    from ffn_polars_spark.operators.dedup import sorted_fuzzy_pairs

    part = read_table(spark, sf_dir, "part")
    return sorted_fuzzy_pairs(
        part, "p_name", "p_partkey", window=10, max_dist=2, by=["p_brand"]
    )


@query(
    "streaming_psi",
    f"""
WITH bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
keys AS (SELECT DISTINCT event_type FROM events),
c AS (
  SELECT event_type,
         least(greatest(CAST(floor((value - 0.0) / 10.0) AS BIGINT), 0), 9) AS bin,
         count(*) AS n
  FROM events GROUP BY 1, 2),
t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY event_type),
grid AS (
  SELECT k.event_type, b.bin, coalesce(c.n, 0) AS n
  FROM keys k CROSS JOIN bins b
  LEFT JOIN c ON c.event_type = k.event_type AND c.bin = b.bin),
p AS (
  SELECT g.event_type, t.tot,
         greatest(CAST(g.n AS DOUBLE) / t.tot, 1e-6) AS po
  FROM grid g JOIN t USING (event_type))
SELECT event_type, max(tot) AS n_events,
       {R("sum((po - 0.1) * ln(po / 0.1))")} AS psi
FROM p GROUP BY event_type""",
)
def q_streaming_psi(spark, sf_dir):
    """Streaming PSI drift monitor (applyInPandasWithState): per-key
    fixed-bin histograms accumulate as state across micro-batches; the
    drained final histogram equals the batch aggregate, so the emitted
    PSI against the uniform reference is replayed by the batch SQL
    twin (13th streaming entry)."""
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        stateful_psi,
    )

    stage = _stage_stream_dir(sf_dir, "events", "ffn_stream")
    stream = read_tick_stream(spark, stage, ts_col="ts")
    out = stateful_psi(
        stream, "event_type", "value",
        ref_probs=[0.1] * 10, lo=0.0, width=10.0,
    )
    drained = run_available_now(out, output_mode="update")
    return drained.select("event_type", "n_events", r6("psi").alias("psi"))


@query(
    "shingle_novelty",
    f"""
WITH {TRIGRAM_SQL},
f AS (SELECT sh, min(doc_id) AS first FROM shd GROUP BY sh),
a AS (
  SELECT shd.doc_id, count(*) AS n_shingles,
         CAST(sum(CASE WHEN shd.doc_id = f.first THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM shd JOIN f USING (sh) GROUP BY shd.doc_id)
SELECT doc_id, n_shingles, n_novel,
       CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS novelty
FROM a""",
)
def q_shingle_novelty(spark, sf_dir):
    """Corpus-order novelty: share of each document's trigram shingles
    first introduced by that document — a min-id aggregate at shingle
    cardinality plus one join back; no pair join."""
    from ffn_polars_spark.operators.dedup import shingle_novelty

    docs = read_table(spark, sf_dir, "documents")
    return shingle_novelty(docs, n=3)


@query(
    "information_value",
    f"""
WITH sc AS (
  SELECT o_orderpriority, o_totalprice AS s,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders),
st AS (SELECT o_orderpriority, min(s) AS lo, max(s) AS hi
       FROM sc GROUP BY o_orderpriority),
b AS (
  SELECT sc.o_orderpriority,
         CASE WHEN st.hi - st.lo > 0
              THEN CAST(least(floor((sc.s - st.lo) / (st.hi - st.lo) * 10.0), 9) AS INT)
              ELSE 0 END AS bin,
         sc.y
  FROM sc JOIN st USING (o_orderpriority)),
c AS (
  SELECT o_orderpriority, bin,
         CAST(sum(y) AS BIGINT) AS np,
         CAST(count(*) - sum(y) AS BIGINT) AS nn
  FROM b GROUP BY o_orderpriority, bin),
w AS (
  SELECT o_orderpriority, bin, np, nn,
         CAST(sum(np) OVER (PARTITION BY o_orderpriority) AS DOUBLE) AS tp,
         CAST(sum(nn) OVER (PARTITION BY o_orderpriority) AS DOUBLE) AS tn
  FROM c)
SELECT o_orderpriority, bin, np AS n_pos, nn AS n_neg,
       {R("ln(greatest(np / tp, 1e-6) / greatest(nn / tn, 1e-6))")} AS woe,
       {R("(greatest(np / tp, 1e-6) - greatest(nn / tn, 1e-6)) * ln(greatest(np / tp, 1e-6) / greatest(nn / tn, 1e-6))")} AS iv_term
FROM w""",
)
def q_information_value(spark, sf_dir):
    """Per-bin Weight-of-Evidence and IV contributions of the order total
    against finished status, per priority band — the binned feature
    screen on calibration_bins' broadcast-stats shape."""
    from ffn_polars_spark.operators.evaluation import information_value

    orders = read_table(spark, sf_dir, "orders")
    scored = orders.select(
        "o_orderpriority", "o_totalprice",
        (F.col("o_orderstatus") == "F").alias("label"),
    )
    out = information_value(
        scored, "o_totalprice", "label", by="o_orderpriority", bins=10
    )
    return out.select(
        "o_orderpriority", "bin", "n_pos", "n_neg",
        r6("woe").alias("woe"), r6("iv_term").alias("iv_term"),
    )


@query(
    "ols_residual_diagnostics",
    TICKS_SQL
    + f""", rr AS (
  SELECT event_type, ts_ns, event_id,
         price / lag(price) OVER ({W}) - 1 AS y,
         price_b / lag(price_b) OVER ({W}) - 1 AS x
  FROM ticks),
ok AS (SELECT * FROM rr WHERE y IS NOT NULL AND x IS NOT NULL),
fit AS (
  SELECT event_type,
         covar_pop(y, x) / var_pop(x) AS beta,
         avg(y) AS my, avg(x) AS mx, var_pop(y) AS vy
  FROM ok GROUP BY event_type),
res AS (
  SELECT ok.event_type, ok.ts_ns, ok.event_id, ok.y,
         fit.beta, fit.my - fit.beta * fit.mx AS alpha, fit.vy,
         ok.y - ((fit.my - fit.beta * fit.mx) + fit.beta * ok.x) AS e
  FROM ok JOIN fit USING (event_type)),
rd AS (
  SELECT event_type, beta, alpha, vy, e,
         e - lag(e) OVER (PARTITION BY event_type ORDER BY ts_ns) AS de
  FROM res),
agg AS (
  SELECT event_type, any_value(beta) AS beta, any_value(alpha) AS alpha,
         sum(e * e) AS sse, any_value(vy) AS vy,
         sum(de * de) AS sde, count(*) AS n
  FROM rd GROUP BY event_type)
SELECT event_type, {R("beta")} AS beta, {R("alpha")} AS alpha,
       {R("CASE WHEN vy > 0 THEN 1.0 - sse / (vy * n) END")} AS r2,
       {R("CASE WHEN sse > 0 THEN sde / sse END")} AS durbin_watson,
       n
FROM agg""",
)
def q_ols_residual_diagnostics(spark, sf_dir):
    """CAPM fit + residual autocorrelation panel per ticker: beta/alpha
    moments broadcast back, Durbin-Watson on the time-ordered residuals
    — the 'is this regression lying' diagnostic."""
    from ffn_polars_spark.operators.evaluation import ols_residual_diagnostics

    t = ticks(spark, sf_dir)
    pre = t.select(
        "event_type", "ts_ns", "event_id",
        ffn.eod.to_returns("price", over=TICK_OVER).alias("y"),
        ffn.eod.to_returns("price_b", over=TICK_OVER).alias("x"),
    )
    out = ols_residual_diagnostics(pre, "y", "x", "ts_ns", by="event_type")
    return out.select(
        "event_type", r6("beta").alias("beta"), r6("alpha").alias("alpha"),
        r6("r2").alias("r2"), r6("durbin_watson").alias("durbin_watson"), "n",
    )


@query(
    "debounce",
    _mat(
        TICKS_SQL.replace("WITH ", "WITH RECURSIVE ", 1)
    + """, f AS (
  SELECT event_type, ts_ns,
         row_number() OVER (PARTITION BY event_type ORDER BY ts_ns, event_id) AS rn
  FROM ticks),
walk AS (
  SELECT event_type, rn, ts_ns, TRUE AS kept, ts_ns AS last_kept
  FROM f WHERE rn = 1
  UNION ALL
  SELECT x.event_type, x.rn, x.ts_ns,
         x.ts_ns - w.last_kept >= 120000000000,
         CASE WHEN x.ts_ns - w.last_kept >= 120000000000
              THEN x.ts_ns ELSE w.last_kept END
  FROM walk w JOIN f x ON x.event_type = w.event_type AND x.rn = w.rn + 1)
SELECT event_type, ts_ns, kept FROM walk""",
        "ticks", "f",
    ),
)
def q_debounce(spark, sf_dir):
    """Cooldown dedup (120 s anchored to the last KEPT event) per ticker:
    the sequential keep-walk as a per-key Arrow scan, bit-exact against
    the recursive-CTE replay — pure integer comparisons."""
    from ffn_polars_spark.operators.recursive import debounce

    t = ticks(spark, sf_dir)
    return debounce(t, "ts_ns", cooldown=120_000_000_000, by=["event_type"])


@query(
    "impact_decay",
    _LR_SPLIT_SQL
    + f""",
sg AS (
  SELECT t.*, CASE WHEN price > lag(price) OVER ({W}) THEN 1.0
                   WHEN price < lag(price) OVER ({W}) THEN -1.0
                   ELSE 0.0 END AS d
  FROM t),
m0 AS (
  SELECT sg.event_type, sg.event_id, sg.ts_ns, sg.d, q.mid AS mid0
  FROM sg ASOF LEFT JOIN q
    ON sg.event_type = q.event_type AND sg.ts_ns >= q.ts_ns),
u AS (
  SELECT event_type, event_id, ts_ns, d, mid0,
         unnest(ARRAY[1000000000, 10000000000, 60000000000]) AS horizon
  FROM m0),
mh AS (
  SELECT u.event_type, u.horizon, u.d, u.mid0, q.mid AS midh
  FROM (SELECT *, ts_ns + horizon AS ts_h FROM u) u ASOF LEFT JOIN q
    ON u.event_type = q.event_type AND u.ts_h >= q.ts_ns)
SELECT event_type, horizon,
       {R("avg(d * (midh - mid0))")} AS avg_impact,
       count(*) AS n
FROM mh
WHERE mid0 IS NOT NULL AND midh IS NOT NULL
GROUP BY event_type, horizon""",
)
def q_impact_decay(spark, sf_dir):
    """Signed mid-move decay at 1 s / 10 s / 60 s after each trade print:
    tick-rule signs, base and shifted mids from as-of joins against the
    quote stream, one (ticker, horizon) aggregate."""
    from ffn_polars_spark.functions.quote import impact_decay

    trades, quotes = _lr_frames(spark, sf_dir)
    out = impact_decay(
        trades, quotes,
        horizons=[1_000_000_000, 10_000_000_000, 60_000_000_000],
        by=["event_type"],
    )
    return out.select(
        "event_type", "horizon", r6("avg_impact").alias("avg_impact"), "n"
    )


@query(
    "union_evolve",
    """
SELECT o_orderkey, o_totalprice, o_orderpriority, CAST(NULL AS INT) AS tier
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT o_orderkey, CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
       CAST(o_orderkey % 10 AS INT)
FROM orders WHERE o_orderkey % 2 = 1""",
)
def q_union_evolve(spark, sf_dir):
    """Schema-evolution union of a v1 extract (price + priority) and a v2
    extract (new tier column, price dropped): align by name, null-fill,
    widen — pure projections + UNION, no shuffle."""
    from ffn_polars_spark.operators.wide import union_evolve

    orders = read_table(spark, sf_dir, "orders")
    v1 = orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    v2 = orders.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", (F.col("o_orderkey") % 10).cast("int").alias("tier")
    )
    return union_evolve(v1, v2)


@query(
    "skew_profile",
    f"""
WITH c AS (SELECT event_type AS key, count(*) AS n_rows FROM events GROUP BY event_type),
t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS tot, count(*) AS n_keys,
             CAST(max(n_rows) AS BIGINT) AS mx FROM c),
top AS (SELECT * FROM c ORDER BY n_rows DESC, key LIMIT 5),
r AS (SELECT key, n_rows,
             row_number() OVER (ORDER BY n_rows DESC, key) AS rank
      FROM top)
SELECT r.key, r.n_rows,
       {R("CAST(r.n_rows AS DOUBLE) / CAST(t.tot AS DOUBLE)")} AS share,
       r.rank, t.n_keys,
       {R("CAST(t.mx AS DOUBLE) / CAST(t.tot AS DOUBLE)")} AS max_share,
       CAST(ceil(CAST(t.mx AS DOUBLE) / (CAST(t.tot AS DOUBLE) / CAST(t.n_keys AS DOUBLE))) AS BIGINT) AS recommended_buckets
FROM r CROSS JOIN t""",
)
def q_skew_profile(spark, sf_dir):
    """Key-skew diagnosis for event_type: hot-key shares via
    TakeOrderedAndProject (no global sort), plus the recommended salt
    bucket count that salted_agg/salted_join would consume."""
    from ffn_polars_spark.operators.skew import skew_profile

    ev = read_table(spark, sf_dir, "events")
    out = skew_profile(ev, "event_type", top_k=5)
    return out.select(
        "key", "n_rows", r6("share").alias("share"), "rank", "n_keys",
        r6("max_share").alias("max_share"), "recommended_buckets",
    )


@query(
    "kaplan_meier",
    f"""
WITH s AS (
  SELECT user_id, user_id % 2 AS cohort,
         CAST(max(epoch_us(ts)) * 1000 - min(epoch_us(ts)) * 1000 AS DOUBLE) AS dur,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ev
  FROM events GROUP BY user_id),
per_t AS (
  SELECT cohort, dur AS t,
         CAST(sum(ev) AS BIGINT) AS n_events,
         CAST(count(*) - sum(ev) AS BIGINT) AS n_censored
  FROM s GROUP BY cohort, dur),
st AS (
  SELECT cohort, t, n_events, n_censored,
         CAST(sum(n_events + n_censored) OVER (PARTITION BY cohort)
              - coalesce(sum(n_events + n_censored) OVER (
                  PARTITION BY cohort ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS n_at_risk
  FROM per_t),
sv AS (
  SELECT cohort, t, n_at_risk, n_events, n_censored,
         CASE WHEN min(1.0 - CAST(n_events AS DOUBLE) / n_at_risk) OVER (
                PARTITION BY cohort ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) <= 0
              THEN 0.0
              ELSE exp(sum(CASE WHEN 1.0 - CAST(n_events AS DOUBLE) / n_at_risk > 0
                                THEN ln(1.0 - CAST(n_events AS DOUBLE) / n_at_risk)
                                ELSE 0.0 END) OVER (
                  PARTITION BY cohort ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         END AS survival
  FROM st)
SELECT cohort, t, n_at_risk, n_events, n_censored,
       {R("survival")} AS survival
FROM sv WHERE n_events > 0""",
)
def q_kaplan_meier(spark, sf_dir):
    """Kaplan–Meier retention curve over user lifetimes (duration =
    first→last event span, event = ever purchased, censored otherwise),
    per parity cohort — subject frame collapses to event-time
    cardinality before any window runs."""
    from ffn_polars_spark.operators.survival import kaplan_meier

    t = ticks(spark, sf_dir)
    subj = t.groupBy("user_id").agg(
        (F.max("ts_ns") - F.min("ts_ns")).cast("double").alias("dur"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("ev"),
    ).withColumn("cohort", F.col("user_id") % 2)
    out = kaplan_meier(subj, "dur", "ev", by="cohort")
    return out.select(
        "cohort", "t", "n_at_risk", "n_events", "n_censored",
        r6("survival").alias("survival"),
    )


@query(
    "event_ngrams",
    TICKS_SQL
    + """, g AS (
  SELECT user_id,
         event_type || '->' || lead(event_type, 1) OVER w
                    || '->' || lead(event_type, 2) OVER w AS gram
  FROM ticks
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id))
SELECT gram, count(*) AS n_occurrences,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys
FROM g WHERE gram IS NOT NULL GROUP BY gram""",
)
def q_event_ngrams(spark, sf_dir):
    """Per-user event-type trigram motifs in time order: one window pass
    (two leads on one sort), then a hash aggregate at path
    cardinality."""
    from ffn_polars_spark.operators.funnel import event_ngrams

    t = ticks(spark, sf_dir)
    return event_ngrams(
        t, "ts_ns", "user_id", "event_type", n=3, order_tiebreak="event_id"
    )


@query(
    "rank_portfolio",
    TICKS_SQL
    + f""", b AS (
  SELECT event_type, ts_ns // 3600000000000 AS bkt,
         avg(price) AS p, CAST(count(*) AS BIGINT) AS activity
  FROM ticks GROUP BY event_type, bkt),
r AS (
  SELECT event_type, bkt,
         p / lag(p) OVER (PARTITION BY event_type ORDER BY bkt) - 1 AS ret,
         lag(activity) OVER (PARTITION BY event_type ORDER BY bkt) AS sig
  FROM b),
ok AS (SELECT * FROM r WHERE sig IS NOT NULL AND ret IS NOT NULL),
qq AS (
  SELECT bkt, event_type, ret,
         ntile(5) OVER (PARTITION BY bkt ORDER BY sig, event_type) AS q
  FROM ok),
a AS (
  SELECT bkt AS period,
         avg(CASE WHEN q = 5 THEN ret END) AS long_ret,
         avg(CASE WHEN q = 1 THEN ret END) AS short_ret,
         CAST(sum(CASE WHEN q = 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
         CAST(sum(CASE WHEN q = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
  FROM qq GROUP BY bkt)
SELECT period, {R("long_ret")} AS long_ret, {R("short_ret")} AS short_ret,
       {R("long_ret - short_ret")} AS spread, n_long, n_short
FROM a""",
)
def q_rank_portfolio(spark, sf_dir):
    """Cross-sectional activity-momentum backtest: rank tickers each
    hour by the PREVIOUS hour's trade count (integer signal — exact
    cross-engine ordering), long top ntile vs short bottom. One window
    + one aggregate at bucket cardinality."""
    from ffn_polars_spark.operators.evaluation import rank_portfolio

    t = ticks(spark, sf_dir)
    b = t.groupBy(
        "event_type",
        F.floor(F.col("ts_ns") / F.lit(3600000000000)).alias("bkt"),
    ).agg(
        F.avg("price").alias("p"), F.count(F.lit(1)).alias("activity")
    )
    w = Window.partitionBy("event_type").orderBy("bkt")
    r = b.select(
        "event_type", "bkt",
        (F.col("p") / F.lag("p").over(w) - 1).alias("ret"),
        F.lag("activity").over(w).alias("sig"),
    )
    out = rank_portfolio(r, "bkt", "event_type", "sig", "ret", n_quantiles=5)
    return out.select(
        "period", r6("long_ret").alias("long_ret"),
        r6("short_ret").alias("short_ret"), r6("spread").alias("spread"),
        "n_long", "n_short",
    )


@query(
    "mann_whitney_u",
    TICKS_SQL
    + f""", rr AS (
  SELECT event_type, event_id % 2 AS lab,
         price / lag(price) OVER ({W}) - 1 AS v
  FROM ticks),
ok AS (SELECT * FROM rr WHERE v IS NOT NULL),
rk AS (
  SELECT event_type, lab, v,
         rank() OVER (PARTITION BY event_type ORDER BY v)
           + (count(*) OVER (PARTITION BY event_type, v) - 1) / 2.0 AS r,
         row_number() OVER (PARTITION BY event_type, v ORDER BY 1) AS rn,
         CAST(count(*) OVER (PARTITION BY event_type, v) AS DOUBLE) AS t
  FROM ok),
a AS (
  SELECT event_type,
         sum(CASE WHEN lab = 1 THEN r END) AS r1,
         CAST(sum(CASE WHEN lab = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN lab = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_neg,
         sum(CASE WHEN rn = 1 THEN t * t * t - t ELSE 0.0 END) AS t3t
  FROM rk GROUP BY event_type),
f AS (
  SELECT event_type, n_pos, n_neg,
         CAST(n_pos AS DOUBLE) AS n1, CAST(n_neg AS DOUBLE) AS n2,
         r1 - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0 AS u,
         t3t
  FROM a),
g AS (
  SELECT event_type, n_pos, n_neg, u,
         n1 * n2 / 12.0 * ((n1 + n2 + 1.0) - t3t / ((n1 + n2) * (n1 + n2 - 1.0))) AS var
  FROM f)
SELECT event_type,
       CASE WHEN n_pos > 0 AND n_neg > 0 THEN u END AS u,
       {R("CASE WHEN n_pos > 0 AND n_neg > 0 AND var > 0 THEN (u - CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE) / 2.0) / sqrt(var) END")} AS z,
       n_pos, n_neg
FROM g""",
)
def q_mann_whitney_u(spark, sf_dir):
    """Mann–Whitney U on odd- vs even-id tick returns per ticker — a
    deliberate null A/B whose rank identity makes it one window + one
    aggregate; rank sums are exact half-integer arithmetic, only the
    final z rounds."""
    from ffn_polars_spark.operators.evaluation import mann_whitney_u

    t = ticks(spark, sf_dir)
    pre = t.select(
        "event_type",
        (F.col("event_id") % 2).alias("lab"),
        ffn.eod.to_returns("price", over=TICK_OVER).alias("v"),
    )
    out = mann_whitney_u(pre, "v", "lab", by="event_type")
    return out.select(
        "event_type", "u", r6("z").alias("z"), "n_pos", "n_neg"
    )


@query(
    "topk_churn",
    TICKS_SQL
    + f""", per AS (
  SELECT ts_ns // 86400000000000 AS p, user_id AS k,
         CAST(count(*) AS DOUBLE) AS w
  FROM ticks WHERE user_id IS NOT NULL GROUP BY p, k),
tops AS (
  SELECT p, k FROM (
    SELECT p, k,
           row_number() OVER (PARTITION BY p ORDER BY w DESC, k ASC) AS rk
    FROM per)
  WHERE rk <= 10),
idx AS (
  SELECT p, dense_rank() OVER (ORDER BY p) AS i
  FROM (SELECT DISTINCT p FROM per)),
cur AS (SELECT tops.p, idx.i, tops.k FROM tops JOIN idx USING (p)),
sizes AS (SELECT p, i, CAST(count(*) AS BIGINT) AS n_curr FROM cur GROUP BY p, i),
prev_sizes AS (SELECT i + 1 AS i, n_curr AS n_prev FROM sizes),
common AS (
  SELECT a.i AS i, CAST(count(*) AS BIGINT) AS n_common
  FROM cur a JOIN (SELECT i + 1 AS i, k FROM cur) b ON a.i = b.i AND a.k = b.k
  GROUP BY a.i),
j AS (
  SELECT sizes.p AS period, sizes.n_curr, prev_sizes.n_prev,
         coalesce(common.n_common, 0) AS n_common
  FROM sizes JOIN prev_sizes ON sizes.i = prev_sizes.i
  LEFT JOIN common ON sizes.i = common.i)
SELECT period, n_curr, n_prev, n_common,
       {R("CAST(n_common AS DOUBLE) / CAST(n_curr + n_prev - n_common AS DOUBLE)")} AS jaccard
FROM j""",
)
def q_topk_churn(spark, sf_dir):
    """Day-over-day churn of the 10 most-active users: WindowGroupLimit
    keeps O(days·k) on the wire, the day index frame broadcasts, and
    the overlap join runs between two tiny frames."""
    from ffn_polars_spark.operators.wide import topk_churn

    t = ticks(spark, sf_dir)
    pre = t.select(
        F.floor(F.col("ts_ns") / F.lit(86400000000000)).alias("p"), "user_id"
    )
    out = topk_churn(pre, "p", "user_id", k=10)
    return out.select(
        "period", "n_curr", "n_prev", "n_common", r6("jaccard").alias("jaccard")
    )


@query(
    "twap",
    TICKS_SQL
    + f""", t AS (
  SELECT event_type, event_id, ts_ns // 1000 AS ts_us, price FROM ticks),
iv AS (
  SELECT event_type, price,
         CAST(lead(ts_us) OVER (PARTITION BY event_type ORDER BY ts_us, event_id)
              - ts_us AS DOUBLE) AS dt
  FROM t)
SELECT event_type,
       {R("sum(price * dt) / sum(dt)")} AS twap,
       CAST(sum(dt) AS DOUBLE) AS total_time,
       CAST(count(*) AS BIGINT) AS n_intervals
FROM iv WHERE dt IS NOT NULL GROUP BY event_type""",
)
def q_twap(spark, sf_dir):
    """Time-weighted average price per ticker — one lead window + one
    aggregate; timestamps are pre-divided to exact-in-double microseconds
    so the interval sum is exact integer arithmetic on both engines."""
    from ffn_polars_spark.functions.tick_price import twap

    t = ticks(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    out = twap(t, "price", ts_col="ts_us", by="event_type", tiebreak="event_id")
    return out.select(
        "event_type", r6("twap").alias("twap"), "total_time", "n_intervals"
    )


@query(
    "chi_square",
    """
WITH cells AS (
  SELECT year(o_orderdate) AS yr, o_orderpriority AS x, o_orderstatus AS y,
         CAST(count(*) AS BIGINT) AS o
  FROM orders GROUP BY yr, x, y),
term AS (
  SELECT yr, o, x, y,
         CAST(o AS DOUBLE) * CAST(o AS DOUBLE)
           / (CAST(sum(o) OVER (PARTITION BY yr, x) AS DOUBLE)
              * CAST(sum(o) OVER (PARTITION BY yr, y) AS DOUBLE)) AS t
  FROM cells),
agg AS (
  SELECT yr, sum(t) AS s, CAST(sum(o) AS BIGINT) AS n,
         count(DISTINCT x) AS nx, count(DISTINCT y) AS ny
  FROM term GROUP BY yr)
SELECT yr,
       CASE WHEN (nx - 1) * (ny - 1) > 0
            THEN floor(greatest(0.0, CAST(n AS DOUBLE) * s - CAST(n AS DOUBLE))
                       * 1000000.0 + 0.5) / 1000000.0 END AS chi2,
       CAST((nx - 1) * (ny - 1) AS BIGINT) AS dof, n
FROM agg""",
)
def q_chi_square(spark, sf_dir):
    """Pearson chi-square of order priority vs status per order year —
    computed by the identity chi2 = n*(sum O^2/(r*c)) - n over observed
    cells, which equals the full-grid (O-E)^2/E textbook statistic
    (zero cells contribute only through the -n term)."""
    from ffn_polars_spark.operators.evaluation import chi_square

    orders = read_table(spark, sf_dir, "orders")
    pre = orders.select(
        F.year("o_orderdate").alias("yr"), "o_orderpriority", "o_orderstatus"
    )
    out = chi_square(pre, "o_orderpriority", "o_orderstatus", by="yr")
    return out.select("yr", r6("chi2").alias("chi2"), "dof", "n")


@query(
    "cohens_kappa",
    r"""
WITH lab AS (
  SELECT source,
         CASE WHEN n_chars >= 300 THEN 'long' ELSE 'short' END AS ra,
         CASE WHEN len(list_filter(string_split_regex(text, '\s+'),
                                   t -> t <> '')) >= 55
              THEN 'long' ELSE 'short' END AS rb
  FROM documents),
tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS agree
  FROM lab GROUP BY source),
ca AS (SELECT source, ra AS k, CAST(count(*) AS BIGINT) AS na
       FROM lab GROUP BY source, ra),
cb AS (SELECT source, rb AS k, CAST(count(*) AS BIGINT) AS nb
       FROM lab GROUP BY source, rb),
marg AS (
  SELECT coalesce(ca.source, cb.source) AS source,
         sum(CAST(coalesce(na, 0) AS DOUBLE)
             * CAST(coalesce(nb, 0) AS DOUBLE)) AS pe_num
  FROM ca FULL JOIN cb ON ca.source = cb.source AND ca.k = cb.k
  GROUP BY coalesce(ca.source, cb.source)),
j AS (
  SELECT tot.source, tot.n,
         CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         pe_num / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
  FROM tot JOIN marg ON tot.source = marg.source)
SELECT source,
       CASE WHEN pe < 1.0
            THEN floor((po - pe) / (1.0 - pe) * 1000000.0 + 0.5) / 1000000.0
       END AS kappa,
       floor(po * 1000000.0 + 0.5) / 1000000.0 AS po,
       floor(pe * 1000000.0 + 0.5) / 1000000.0 AS pe, n
FROM j""",
)
def q_cohens_kappa(spark, sf_dir):
    """Cohen's kappa between two heuristic document 'raters' (char-length
    vs word-count labeling) per source — chance-corrected agreement on
    exact marginal counts."""
    from ffn_polars_spark.operators.evaluation import cohens_kappa

    docs = read_table(spark, sf_dir, "documents")
    wcount = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    )
    pre = docs.select(
        "source",
        F.when(F.col("n_chars") >= 300, "long").otherwise("short").alias("ra"),
        F.when(wcount >= 55, "long").otherwise("short").alias("rb"),
    )
    out = cohens_kappa(pre, "ra", "rb", by="source")
    return out.select(
        "source", r6("kappa").alias("kappa"), r6("po").alias("po"),
        r6("pe").alias("pe"), "n",
    )


@query(
    "flesch_readability",
    r"""
WITH s AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS w,
         len(list_filter(string_split_regex(text, '[.!?]+'),
             x -> len(list_filter(string_split_regex(x, '\s+'),
                                  t -> t <> '')) > 0)) AS sct,
         len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS y
  FROM documents)
SELECT doc_id, CAST(w AS BIGINT) AS n_words, CAST(sct AS BIGINT) AS n_sentences,
       CAST(y AS BIGINT) AS n_syllables,
       CASE WHEN w > 0 AND sct > 0 THEN
         floor((206.835
                - 1.015 * (CAST(w AS DOUBLE) / CAST(sct AS DOUBLE))
                - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)))
               * 1000000.0 + 0.5) / 1000000.0
       END AS flesch
FROM s""",
)
def q_flesch_readability(spark, sf_dir):
    """Flesch reading-ease per document — pure in-row expression tree
    (whitespace words, word-bearing sentences, vowel-run syllables); the
    parquet scan is the whole plan."""
    from ffn_polars_spark.operators.text import flesch_readability

    docs = read_table(spark, sf_dir, "documents")
    out = flesch_readability(docs)
    return out.select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        r6("flesch").alias("flesch"),
    )


@query(
    "triangle_count",
    """
WITH pairs AS (
  SELECT a.l_partkey AS s, b.l_partkey AS d
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey),
und AS (SELECT DISTINCT s AS u, d AS v FROM pairs),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT u AS node FROM und UNION ALL SELECT v FROM und)
  GROUP BY node),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e1.v = e2.u
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
corners AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
  GROUP BY node)
SELECT deg.node, deg.degree,
       coalesce(corners.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
       CASE WHEN deg.degree >= 2 THEN
         floor(2.0 * CAST(coalesce(corners.n_triangles, 0) AS DOUBLE)
               / (CAST(deg.degree AS DOUBLE) * (CAST(deg.degree AS DOUBLE) - 1.0))
               * 1000000.0 + 0.5) / 1000000.0
       END AS clustering
FROM deg LEFT JOIN corners ON deg.node = corners.node""",
)
def q_triangle_count(spark, sf_dir):
    """Triangles + local clustering on the part co-purchase graph (parts
    sharing an order): the edge aggregation is the distributed step,
    each triangle enumerated once as an ordered triple."""
    from ffn_polars_spark.operators.graph import triangle_count

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("s"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("d"))
    edges = a.join(b, "k").where(F.col("s") < F.col("d")).select("s", "d")
    out = triangle_count(edges, "s", "d")
    return out.select(
        "node", "degree", "n_triangles", r6("clustering").alias("clustering")
    )


@query(
    "interval_union",
    TICKS_SQL
    + """, iv AS (
  SELECT user_id, CAST(ts_ns // 1000 AS DOUBLE) AS s,
         CAST(ts_ns // 1000 + 300000000 AS DOUBLE) AS e
  FROM ticks),
m AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
  FROM iv),
fl AS (
  SELECT user_id, s, e,
         CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS nw
  FROM m),
isl AS (
  SELECT user_id, s, e,
         sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM fl),
g AS (
  SELECT user_id, island, min(s) AS i_s, max(e) AS i_e,
         count(*) AS n
  FROM isl GROUP BY user_id, island)
SELECT user_id, sum(greatest(i_e - i_s, 0.0)) AS covered,
       CAST(count(*) AS BIGINT) AS n_islands,
       max(greatest(i_e - i_s, 0.0)) AS max_island,
       CAST(sum(n) AS BIGINT) AS n_intervals
FROM g GROUP BY user_id""",
)
def q_interval_union(spark, sf_dir):
    """Sweep-line interval union per user (5-minute activity windows
    around each event): covered time, merged-island count, largest
    island — two window passes sharing one exchange. Microsecond
    arithmetic keeps every sum exact in doubles."""
    from ffn_polars_spark.operators.ranges import interval_union

    t = ticks(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    iv = t.select(
        "user_id",
        F.col("ts_us").alias("s"),
        (F.col("ts_us") + F.lit(300000000)).alias("e"),
    )
    return interval_union(iv, "s", "e", by="user_id")


@query(
    "radius_join",
    """
WITH pts AS (
  SELECT c_custkey AS id,
         CAST(c_custkey * 7919 % 10000 AS DOUBLE) / 100.0 AS x,
         CAST(c_custkey * 104729 % 10000 AS DOUBLE) / 100.0 AS y
  FROM customer),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b,
         sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) AS d
  FROM pts a JOIN pts b ON a.id < b.id)
SELECT id_a, id_b,
       floor(d * 1000000.0 + 0.5) / 1000000.0 AS distance
FROM pairs WHERE d <= 1.5""",
)
def q_radius_join(spark, sf_dir):
    """Grid-bucketed Euclidean radius join over synthetic customer
    coordinates: cells of side r + a 3x3 neighbor fan-out make the
    candidate stage an equi-join (never the crossJoin the oracle is
    allowed to use at sf0.01)."""
    from ffn_polars_spark.operators.spatial import radius_join

    cust = read_table(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_custkey").alias("id"),
        ((F.col("c_custkey") * 7919 % 10000).cast("double") / 100.0).alias("x"),
        ((F.col("c_custkey") * 104729 % 10000).cast("double") / 100.0).alias("y"),
    )
    out = radius_join(pts, "id", "x", "y", 1.5)
    return out.select("id_a", "id_b", r6("distance").alias("distance"))


@query(
    "newey_west_tstat",
    TICKS_SQL
    + f""", rr AS (
  SELECT event_type, ts_ns, event_id,
         price / lag(price) OVER ({W}) - 1 AS r
  FROM ticks),
b AS (SELECT * FROM rr WHERE r IS NOT NULL),
mu AS (SELECT event_type, avg(r) AS mu, CAST(count(*) AS BIGINT) AS n
       FROM b GROUP BY event_type),
u AS (
  SELECT b.event_type, b.ts_ns, b.event_id, b.r - mu.mu AS u, mu.mu, mu.n
  FROM b JOIN mu ON b.event_type = mu.event_type),
l AS (
  SELECT event_type, mu, n, u,
         lag(u, 1) OVER ({W}) AS u1, lag(u, 2) OVER ({W}) AS u2,
         lag(u, 3) OVER ({W}) AS u3, lag(u, 4) OVER ({W}) AS u4,
         lag(u, 5) OVER ({W}) AS u5
  FROM u),
g AS (
  SELECT event_type, mu, n,
         sum(u * u) AS g0, sum(u * u1) AS g1, sum(u * u2) AS g2,
         sum(u * u3) AS g3, sum(u * u4) AS g4, sum(u * u5) AS g5
  FROM l GROUP BY event_type, mu, n),
v AS (
  SELECT event_type, mu, n,
         g0 / CAST(n AS DOUBLE)
           + 2.0 * (1.0 - 1.0 / 6.0) * (coalesce(g1, 0.0) / CAST(n AS DOUBLE))
           + 2.0 * (1.0 - 2.0 / 6.0) * (coalesce(g2, 0.0) / CAST(n AS DOUBLE))
           + 2.0 * (1.0 - 3.0 / 6.0) * (coalesce(g3, 0.0) / CAST(n AS DOUBLE))
           + 2.0 * (1.0 - 4.0 / 6.0) * (coalesce(g4, 0.0) / CAST(n AS DOUBLE))
           + 2.0 * (1.0 - 5.0 / 6.0) * (coalesce(g5, 0.0) / CAST(n AS DOUBLE)) AS var_nw
  FROM g)
SELECT event_type, {R("mu")} AS mean,
       CASE WHEN var_nw > 0
            THEN {R("sqrt(var_nw / CAST(n AS DOUBLE))")} END AS se_nw,
       CASE WHEN var_nw > 0
            THEN {R("mu / sqrt(var_nw / CAST(n AS DOUBLE))")} END AS t_nw,
       n
FROM v""",
)
def q_newey_west_tstat(spark, sf_dir):
    """Newey-West HAC t-statistic of the mean tick return per ticker
    (Bartlett weights, 5 lags): one broadcast mean join + ONE ordered
    window producing all five lag columns + one closed-form aggregate."""
    from ffn_polars_spark.operators.evaluation import newey_west_tstat

    t = ticks(spark, sf_dir)
    pre = t.select(
        "event_type", "ts_ns", "event_id",
        ffn.eod.to_returns("price", over=TICK_OVER).alias("r"),
    )
    out = newey_west_tstat(
        pre, "r", order_by=["ts_ns", "event_id"], by="event_type", lags=5
    )
    return out.select(
        "event_type", r6("mean").alias("mean"), r6("se_nw").alias("se_nw"),
        r6("t_nw").alias("t_nw"), "n",
    )


@query(
    "event_study",
    TICKS_SQL
    + f""", rr AS (
  SELECT event_type, event_id,
         row_number() OVER ({W}) AS rn,
         price / lag(price) OVER ({W}) - 1 AS r
  FROM ticks),
b AS (SELECT event_type, event_id, rn, r FROM rr WHERE r IS NOT NULL),
mu AS (SELECT event_type, avg(r) AS mu FROM b GROUP BY event_type),
ev AS (SELECT event_type, rn AS t0 FROM b WHERE event_id % 211 = 0),
ex AS (
  SELECT ev.event_type, ev.t0, ev.t0 + g.o AS t
  FROM ev CROSS JOIN generate_series(-2, 2) g(o)),
j AS (
  SELECT ex.event_type, ex.t0, b.r, mu.mu
  FROM ex
  JOIN b ON b.event_type = ex.event_type AND b.rn = ex.t
  JOIN mu ON mu.event_type = ex.event_type)
SELECT event_type, CAST(t0 AS BIGINT) AS event_seq,
       {R("sum(r - mu)")} AS car,
       CAST(count(*) AS BIGINT) AS n_obs
FROM j GROUP BY event_type, t0""",
)
def q_event_study(spark, sf_dir):
    """Constant-mean-model event study (CAR over a +/-2-tick window
    around every 211th event id): events explode to window coordinates
    map-side and equi-join the return series — no range-join blowup."""
    from pyspark.sql.window import Window as _W

    from ffn_polars_spark.operators.evaluation import event_study

    t = ticks(spark, sf_dir)
    w = _W.partitionBy("event_type").orderBy("ts_ns", "event_id")
    rr = t.select(
        "event_type", "event_id",
        F.row_number().over(w).alias("rn"),
        (F.col("price") / F.lag("price").over(w) - 1).alias("r"),
    ).where(F.col("r").isNotNull())
    events = rr.where(F.col("event_id") % 211 == 0).select("event_type", "rn")
    out = event_study(rr, events, "event_type", "rn", "r", window=2)
    return out.select(
        "event_type", F.col("event_seq").cast("long").alias("event_seq"),
        r6("car").alias("car"), "n_obs",
    )


@query(
    "rrf_fuse",
    r"""
WITH wc AS (
  SELECT doc_id, lang, n_chars,
         len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS w
  FROM documents),
sa AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
  FROM wc),
sb AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang ORDER BY w DESC, doc_id) AS rk
  FROM wc),
u AS (
  SELECT lang, 'chars' AS sys, doc_id, rk FROM sa
  UNION ALL
  SELECT lang, 'words' AS sys, doc_id, rk FROM sb),
agg AS (
  SELECT lang, doc_id AS item,
         sum(1.0 / (60.0 + CAST(rk AS DOUBLE))) AS rrf_score,
         CAST(count(DISTINCT sys) AS BIGINT) AS n_systems
  FROM u GROUP BY lang, doc_id),
rk AS (
  SELECT lang, item, rrf_score, n_systems,
         row_number() OVER (PARTITION BY lang
                            ORDER BY rrf_score DESC, item ASC) AS fused_rank
  FROM agg)
SELECT lang, item,
       floor(rrf_score * 1000000.0 + 0.5) / 1000000.0 AS rrf_score,
       n_systems, fused_rank
FROM rk WHERE fused_rank <= 5""",
)
def q_rrf_fuse(spark, sf_dir):
    """Reciprocal-rank fusion of two document rankers (char-length vs
    word-count) per language: one hash aggregate on rank-list-sized
    frames + a WindowGroupLimit top-k cut."""
    from pyspark.sql.window import Window as _W

    from ffn_polars_spark.operators.search import rrf_fuse

    docs = read_table(spark, sf_dir, "documents")
    wcount = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != F.lit(""))
    )
    wc = docs.select("doc_id", "lang", "n_chars", wcount.alias("w"))
    wa = _W.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    wb = _W.partitionBy("lang").orderBy(F.col("w").desc(), "doc_id")
    sa = wc.select(
        "lang", F.lit("chars").alias("sys"), "doc_id",
        F.row_number().over(wa).alias("rk"),
    )
    sb = wc.select(
        "lang", F.lit("words").alias("sys"), "doc_id",
        F.row_number().over(wb).alias("rk"),
    )
    out = rrf_fuse(sa.unionByName(sb), "sys", "doc_id", "rk", by="lang",
                   k0=60, top_k=5)
    return out.select(
        "lang", "item", r6("rrf_score").alias("rrf_score"),
        "n_systems", "fused_rank",
    )


@query(
    "p_adjust_bh",
    """
WITH tests AS (
  SELECT o_orderkey AS test_id, o_orderstatus AS family,
         CAST(o_orderkey * 2654435761 % 999999937 AS DOUBLE) / 999999937.0 AS p
  FROM orders WHERE o_orderkey % 37 = 0),
rk AS (
  SELECT test_id, family, p,
         row_number() OVER (PARTITION BY family ORDER BY p) AS j,
         count(*) OVER (PARTITION BY family) AS m
  FROM tests),
raw AS (
  SELECT test_id, family, p,
         p * CAST(m AS DOUBLE) / CAST(j AS DOUBLE) AS r, j
  FROM rk),
adj AS (
  SELECT test_id, family, p,
         least(min(r) OVER (PARTITION BY family ORDER BY j DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               1.0) AS p_adj
  FROM raw)
SELECT test_id, family,
       floor(p * 1000000.0 + 0.5) / 1000000.0 AS p,
       floor(p_adj * 1000000.0 + 0.5) / 1000000.0 AS p_adj
FROM adj""",
)
def q_p_adjust_bh(spark, sf_dir):
    """Benjamini-Hochberg FDR over synthetic per-order test p-values,
    family = order status: one ascending window for ranks + the same
    window reversed for the tail running min — no iteration."""
    from ffn_polars_spark.operators.evaluation import p_adjust_bh

    orders = read_table(spark, sf_dir, "orders")
    tests = orders.where(F.col("o_orderkey") % 37 == 0).select(
        F.col("o_orderkey").alias("test_id"),
        F.col("o_orderstatus").alias("family"),
        (
            (F.col("o_orderkey") * 2654435761 % 999999937).cast("double")
            / 999999937.0
        ).alias("p"),
    )
    out = p_adjust_bh(tests, "p", by="family")
    return out.select(
        "test_id", "family", r6("p").alias("p"), r6("p_adj").alias("p_adj")
    )


@query(
    "proportion_ztest",
    TICKS_SQL
    + """, lab AS (
  SELECT event_type,
         CASE WHEN price > 105.0 THEN 1 ELSE 0 END AS s,
         CAST(user_id % 2 AS INT) AS v
  FROM ticks),
agg AS (
  SELECT event_type,
         CAST(sum(CASE WHEN v = 1 THEN s END) AS BIGINT) AS s1,
         CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
         CAST(sum(CASE WHEN v = 0 THEN s END) AS BIGINT) AS s0,
         CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_0
  FROM lab GROUP BY event_type),
calc AS (
  SELECT event_type, n_1, n_0,
         CAST(s1 AS DOUBLE) / CAST(n_1 AS DOUBLE) AS p1,
         CAST(s0 AS DOUBLE) / CAST(n_0 AS DOUBLE) AS p0,
         CAST(s1 + s0 AS DOUBLE) / (CAST(n_1 AS DOUBLE) + CAST(n_0 AS DOUBLE)) AS pp
  FROM agg),
v AS (
  SELECT event_type, n_1, n_0, p1, p0,
         pp * (1.0 - pp) * (1.0 / CAST(n_1 AS DOUBLE) + 1.0 / CAST(n_0 AS DOUBLE)) AS var
  FROM calc)
SELECT event_type,
       floor(p1 * 1000000.0 + 0.5) / 1000000.0 AS rate_1,
       floor(p0 * 1000000.0 + 0.5) / 1000000.0 AS rate_0,
       floor((p1 - p0) * 1000000.0 + 0.5) / 1000000.0 AS lift,
       CASE WHEN n_1 > 0 AND n_0 > 0 AND var > 0
            THEN floor((p1 - p0) / sqrt(var) * 1000000.0 + 0.5) / 1000000.0
       END AS z,
       n_1, n_0
FROM v""",
)
def q_proportion_ztest(spark, sf_dir):
    """Two-proportion z-test per ticker (high-price rate, odd vs even
    users): four exact counts per group, then closed-form algebra."""
    from ffn_polars_spark.operators.evaluation import proportion_ztest

    t = ticks(spark, sf_dir)
    lab = t.select(
        "event_type",
        F.when(F.col("price") > 105.0, 1).otherwise(0).alias("s"),
        (F.col("user_id") % 2).cast("int").alias("v"),
    )
    out = proportion_ztest(lab, "s", "v", by="event_type")
    return out.select(
        "event_type", r6("rate_1").alias("rate_1"), r6("rate_0").alias("rate_0"),
        r6("lift").alias("lift"), r6("z").alias("z"), "n_1", "n_0",
    )


@query(
    "cell_stats",
    """
WITH pts AS (
  SELECT CAST(c_custkey * 7919 % 10000 AS DOUBLE) / 100.0 AS x,
         CAST(c_custkey * 104729 % 10000 AS DOUBLE) / 100.0 AS y
  FROM customer)
SELECT CAST(floor(x / 5.0) AS BIGINT) AS cell_x,
       CAST(floor(y / 5.0) AS BIGINT) AS cell_y,
       CAST(count(*) AS BIGINT) AS n
FROM pts GROUP BY 1, 2""",
)
def q_cell_stats(spark, sf_dir):
    """Grid-occupancy histogram of the synthetic customer coordinates —
    the skew diagnostic a production radius_join runs first (a cell of
    k points contributes k^2 candidates)."""
    from ffn_polars_spark.operators.spatial import cell_stats

    cust = read_table(spark, sf_dir, "customer")
    pts = cust.select(
        ((F.col("c_custkey") * 7919 % 10000).cast("double") / 100.0).alias("x"),
        ((F.col("c_custkey") * 104729 % 10000).cast("double") / 100.0).alias("y"),
    )
    out = cell_stats(pts, "x", "y", 5.0)
    return out.select(
        F.col("cell_x").cast("long").alias("cell_x"),
        F.col("cell_y").cast("long").alias("cell_y"),
        F.col("n").cast("long").alias("n"),
    )


@query(
    "transition_entropy",
    TICKS_SQL
    + """, pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id)
           AS from_type,
         event_type AS to_type
  FROM ticks),
counts AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS c
  FROM pairs WHERE from_type IS NOT NULL GROUP BY from_type, to_type),
cell AS (
  SELECT from_type, c,
         CAST(c AS DOUBLE) / CAST(sum(c) OVER (PARTITION BY from_type) AS DOUBLE) AS p
  FROM counts),
rows_ AS (
  SELECT from_type, sum(-p * log2(p)) AS entropy,
         CAST(count(*) AS BIGINT) AS n_out, CAST(sum(c) AS BIGINT) AS n
  FROM cell GROUP BY from_type),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM rows_),
overall AS (
  SELECT '__overall__' AS from_type,
         sum(entropy * CAST(n AS DOUBLE) / tot.t) AS entropy,
         CAST(sum(n_out) AS BIGINT) AS n_out, CAST(sum(n) AS BIGINT) AS n
  FROM rows_ CROSS JOIN tot GROUP BY tot.t),
u AS (
  SELECT * FROM rows_ UNION ALL SELECT * FROM overall)
SELECT from_type,
       floor(entropy * 1000000.0 + 0.5) / 1000000.0 AS entropy,
       n_out, n
FROM u""",
)
def q_transition_entropy(spark, sf_dir):
    """Next-state entropy of the per-user event-type Markov chain plus
    the overall conditional entropy rate — everything after the
    (from, to) count runs at |types|^2 cardinality."""
    from ffn_polars_spark.operators.funnel import transition_entropy

    t = ticks(spark, sf_dir)
    out = transition_entropy(
        t, user_col="user_id", type_col="event_type",
        ts_col="ts_ns", tiebreak_col="event_id",
    )
    return out.select(
        "from_type", r6("entropy").alias("entropy"), "n_out", "n"
    )


@query(
    "forecast_mase",
    PX_SQL
    + """, l AS (
  SELECT price,
         lag(price, 7) OVER (ORDER BY d) AS vs,
         lag(price, 1) OVER (ORDER BY d) AS v1
  FROM px),
agg AS (
  SELECT avg(abs(price - vs)) AS mae_seasonal,
         avg(abs(price - v1)) AS mae_naive,
         CAST(count(*) AS BIGINT) AS n
  FROM l)
SELECT CASE WHEN mae_naive > 0
            THEN floor(mae_seasonal / mae_naive * 1000000.0 + 0.5) / 1000000.0
       END AS mase,
       floor(mae_seasonal * 1000000.0 + 0.5) / 1000000.0 AS mae_seasonal,
       floor(mae_naive * 1000000.0 + 0.5) / 1000000.0 AS mae_naive,
       n
FROM agg""",
)
def q_forecast_mase(spark, sf_dir):
    """Seasonal-naive (weekly) forecast backtest on the daily price
    series, scored as MASE — both lags from one ordered window, one
    closed-form aggregate."""
    from ffn_polars_spark.operators.evaluation import forecast_mase

    p = px(spark, sf_dir)
    out = forecast_mase(p, "price", order_by="d", season=7)
    return out.select(
        r6("mase").alias("mase"),
        r6("mae_seasonal").alias("mae_seasonal"),
        r6("mae_naive").alias("mae_naive"), "n",
    )


@query(
    "wasserstein_distance",
    TICKS_SQL
    + f""", per AS (
  SELECT price AS x,
         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
  FROM ticks WHERE event_type IN ('purchase', 'view')
  GROUP BY price),
cum AS (
  SELECT x,
         sum(ca) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
         sum(cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb,
         lead(x) OVER (ORDER BY x) AS xn
  FROM per),
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b,
         CAST(count(*) AS BIGINT) AS n_values
  FROM per)
SELECT {R("sum(abs(CAST(cca AS DOUBLE) / CAST(n_a AS DOUBLE) - CAST(ccb AS DOUBLE) / CAST(n_b AS DOUBLE)) * (xn - x))")} AS w1,
       n_a, n_b, n_values
FROM cum CROSS JOIN tot WHERE xn IS NOT NULL
GROUP BY n_a, n_b, n_values""",
)
def q_wasserstein_distance(spark, sf_dir):
    """Earth-mover distance between the purchase and view price
    distributions — distinct-value collapse, ranged_cumsum ECDFs, and
    a consecutive-rank equi-join for the gaps (no global lead
    window)."""
    from ffn_polars_spark.operators.quality import wasserstein_distance

    t = ticks(spark, sf_dir)
    out = wasserstein_distance(t, "price", "event_type", "purchase", "view")
    return out.select(
        r6("w1").alias("w1"), "n_a", "n_b",
        F.col("n_values").cast("long").alias("n_values"),
    )


@query(
    "lateness_stats",
    TICKS_SQL
    + f""", arr AS (
  SELECT event_type, ts_ns // 1000 AS ts_us,
         (event_id * 48271 % 1009) * 10000000 + event_id AS arrival
  FROM ticks),
m AS (
  SELECT event_type, ts_us,
         max(ts_us) OVER (PARTITION BY event_type ORDER BY arrival
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
  FROM arr),
l AS (
  SELECT event_type,
         CASE WHEN pm > ts_us THEN CAST(pm - ts_us AS DOUBLE)
              ELSE 0.0 END AS late
  FROM m),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN late > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
         max(late) AS max_lateness, sum(late) AS sum_late
  FROM l GROUP BY event_type)
SELECT event_type, n, n_late,
       {R("CAST(n_late AS DOUBLE) / CAST(n AS DOUBLE)")} AS frac_late,
       max_lateness,
       CASE WHEN n_late > 0
            THEN {R("sum_late / CAST(n_late AS DOUBLE)")} END AS avg_lateness
FROM g""",
)
def q_lateness_stats(spark, sf_dir):
    """Out-of-orderness profile under a deterministic ingestion shuffle
    (hash-bucketed arrival order): the measured watermark bound for the
    streaming ops — running max of event time over arrival order, one
    window + one aggregate."""
    from ffn_polars_spark.operators.quality import lateness_stats

    t = ticks(spark, sf_dir).select(
        "event_type",
        F.expr("ts_ns div 1000").alias("ts_us"),
        ((F.col("event_id") * 48271 % 1009) * 10000000 + F.col("event_id")).alias(
            "arrival"
        ),
    )
    out = lateness_stats(t, "ts_us", "arrival", by="event_type")
    return out.select(
        "event_type", "n", "n_late", r6("frac_late").alias("frac_late"),
        "max_lateness", r6("avg_lateness").alias("avg_lateness"),
    )


@query(
    "column_overlap",
    """
WITH ua AS (
  SELECT DISTINCT col_a, v FROM (
    SELECT 'o_orderkey' AS col_a, CAST(o_orderkey AS VARCHAR) AS v FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders)
  WHERE v IS NOT NULL),
ub AS (
  SELECT DISTINCT col_b, v FROM (
    SELECT 'l_orderkey' AS col_b, CAST(l_orderkey AS VARCHAR) AS v FROM lineitem
    UNION ALL
    SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem)
  WHERE v IS NOT NULL),
common AS (
  SELECT col_a, col_b, CAST(count(*) AS BIGINT) AS n_common
  FROM ua JOIN ub USING (v) GROUP BY col_a, col_b),
na AS (SELECT col_a, CAST(count(*) AS BIGINT) AS n_a FROM ua GROUP BY col_a),
nb AS (SELECT col_b, CAST(count(*) AS BIGINT) AS n_b FROM ub GROUP BY col_b),
grid AS (
  SELECT na.col_a, nb.col_b, na.n_a, nb.n_b,
         coalesce(common.n_common, CAST(0 AS BIGINT)) AS n_common
  FROM na CROSS JOIN nb
  LEFT JOIN common ON common.col_a = na.col_a AND common.col_b = nb.col_b)
SELECT col_a, col_b, n_common, n_a, n_b,
       floor(CAST(n_common AS DOUBLE) / CAST(n_a + n_b - n_common AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS jaccard
FROM grid""",
)
def q_column_overlap(spark, sf_dir):
    """Instance-based schema matching between orders and lineitem key
    columns: one explode-unpivot scan per table, distinct collapse, one
    value equi-join — the 'which column is the join key?' diagnostic."""
    from ffn_polars_spark.operators.quality import column_overlap

    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    out = column_overlap(
        orders, li, ["o_orderkey", "o_custkey"], ["l_orderkey", "l_suppkey"]
    )
    return out.select(
        "col_a", "col_b", "n_common", "n_a", "n_b",
        r6("jaccard").alias("jaccard"),
    )


@query(
    "heaps_law",
    r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     t -> t <> '') AS tk
  FROM documents),
per_doc AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS nt FROM toks),
first_seen AS (
  SELECT d, CAST(count(*) AS BIGINT) AS nv FROM (
    SELECT t, min(doc_id) AS d
    FROM (SELECT doc_id, unnest(list_distinct(tk)) AS t FROM toks)
    GROUP BY t)
  GROUP BY d),
docs AS (
  SELECT per_doc.doc_id, per_doc.nt,
         coalesce(first_seen.nv, CAST(0 AS BIGINT)) AS nv
  FROM per_doc LEFT JOIN first_seen ON first_seen.d = per_doc.doc_id),
cum AS (
  SELECT doc_id,
         sum(nt) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS N,
         sum(nv) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS V
  FROM docs),
pts AS (
  SELECT ln(CAST(N AS DOUBLE)) AS x, ln(CAST(V AS DOUBLE)) AS y
  FROM cum WHERE N > 0 AND V > 0),
fit AS (
  SELECT covar_pop(x, y) AS cxy, var_pop(x) AS vx,
         avg(x) AS mx, avg(y) AS my,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM pts),
tots AS (
  SELECT CAST(max(N) AS BIGINT) AS total_tokens,
         CAST(max(V) AS BIGINT) AS vocab
  FROM cum)
SELECT CASE WHEN vx > 0
            THEN floor(cxy / vx * 1000000.0 + 0.5) / 1000000.0 END AS beta,
       CASE WHEN vx > 0
            THEN floor(exp(my - cxy / vx * mx) * 1000000.0 + 0.5) / 1000000.0
       END AS k,
       n_docs, total_tokens, vocab
FROM fit CROSS JOIN tots""",
)
def q_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth fit over the document corpus — each
    type counted once at its first document (one distinct token->min-doc
    aggregate), cumulatives via ranged_cumsum, closed-form OLS."""
    from ffn_polars_spark.operators.text import heaps_law

    docs = read_table(spark, sf_dir, "documents")
    out = heaps_law(docs)
    return out.select(
        r6("beta").alias("beta"), r6("k").alias("k"),
        "n_docs", "total_tokens", "vocab",
    )


def _top_pc_cte_prefix(iterations: int = 15) -> str:
    """Shared unrolled power-iteration CTE chain for the linalg oracles:
    every sum in the recurrence is EXACT (power-of-two grid quantization
    keeps all products under 53 significant bits — operators/linalg.py
    module docstring), so DuckDB's aggregate order cannot differ from
    Spark's; the divisions and sqrt are correctly-rounded scalar ops on
    identical inputs. Same iteration count, same grids, same guard."""
    base = """
WITH e AS MATERIALIZED (
  SELECT vec_id, CAST(t.u[2] AS BIGINT) - 1 AS i,
         floor(CAST(t.u[1] AS DOUBLE) * 1024.0 + 0.5) / 1024.0 AS q
  FROM embeddings,
       unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS t(u)),
s AS MATERIALIZED (
  SELECT a.i, b.i AS j,
         floor(sum(a.q * b.q) * 1024.0 + 0.5) / 1024.0 AS v
  FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
dim AS (SELECT CAST(count(DISTINCT i) AS DOUBLE) AS d FROM s),
mx AS (SELECT dim.d * (SELECT max(abs(v)) FROM s) AS m FROM dim),
v0 AS MATERIALIZED (
  SELECT i, floor(1.0 / sqrt(dim.d) * 32768.0 + 0.5) / 32768.0 AS v
  FROM (SELECT DISTINCT i FROM s) CROSS JOIN dim)"""
    its = []
    for k in range(1, iterations + 1):
        p = k - 1
        its.append(f"""y{k} AS MATERIALIZED (
  SELECT s.i, sum(s.v * p.v) AS y FROM s JOIN v{p} p ON p.i = s.j GROUP BY s.i),
t{k} AS (
  SELECT i, floor(y / mx.m * 32768.0 + 0.5) / 32768.0 AS t
  FROM y{k} CROSS JOIN mx),
n{k} AS (SELECT sqrt(sum(t * t)) AS nrm FROM t{k}),
v{k} AS MATERIALIZED (
  SELECT i, CASE WHEN nrm > 0
                 THEN floor(t / nrm * 32768.0 + 0.5) / 32768.0
                 ELSE 0.0 END AS v
  FROM t{k} CROSS JOIN n{k})""")
    return base + ",\n" + ",\n".join(its)


def _top_pc_oracle_sql(iterations: int = 15) -> str:
    k = iterations
    return (
        _top_pc_cte_prefix(k)
        + f"""
SELECT CAST(v{k}.i AS INT) AS component,
       floor(v{k}.v * 1000000.0 + 0.5) / 1000000.0 AS loading,
       floor(n{k}.nrm * mx.m * 1000000.0 + 0.5) / 1000000.0 AS eigenvalue
FROM v{k} CROSS JOIN n{k} CROSS JOIN mx"""
    )


def _remove_pc_oracle_sql(iterations: int = 15) -> str:
    """All-but-the-top replay: the shared power-iteration prefix yields
    v; the projection dot product is again an exact (order-free) sum of
    grid-quantized products, and the residual is a scalar chain."""
    k = iterations
    return (
        _top_pc_cte_prefix(k)
        + f""",
dot AS (
  SELECT e.vec_id, sum(e.q * p.v) AS dp
  FROM e JOIN v{k} p ON p.i = e.i GROUP BY e.vec_id)
SELECT e.vec_id, CAST(e.i AS INT) AS component,
       floor((e.q - dot.dp * p.v) * 1000000.0 + 0.5) / 1000000.0 AS residual
FROM e JOIN v{k} p ON p.i = e.i JOIN dot ON dot.vec_id = e.vec_id"""
    )


@query("embedding_top_pc", _top_pc_oracle_sql(15))
def q_embedding_top_pc(spark, sf_dir):
    """Top principal direction of the embedding corpus: the d x d
    second-moment accumulation is the distributed pass; the 15-round
    power iteration runs on the collected d^2 frame with exact-replay
    grid arithmetic the unrolled SQL oracle reproduces bit-for-bit."""
    from ffn_polars_spark.operators.linalg import embedding_top_pc

    emb = read_table(spark, sf_dir, "embeddings")
    out = embedding_top_pc(emb, "embedding", "vec_id", iterations=15)
    return out.select(
        "component", r6("loading").alias("loading"),
        r6("eigenvalue").alias("eigenvalue"),
    )


@query("embedding_remove_pc", _remove_pc_oracle_sql(15))
def q_embedding_remove_pc(spark, sf_dir):
    """All-but-the-top anisotropy correction: subtract each embedding's
    projection onto the corpus top principal direction — one broadcast
    of the d-vector + one projection pass; the oracle replays the
    power iteration AND the exact-sum dot products."""
    from ffn_polars_spark.operators.linalg import embedding_remove_pc

    emb = read_table(spark, sf_dir, "embeddings")
    out = embedding_remove_pc(emb, "embedding", "vec_id", iterations=15)
    return out.select(
        "vec_id", "component", r6("residual").alias("residual")
    )


@query(
    "langid_agreement",
    f"""
WITH c AS (
  SELECT doc_id, lang,
         len(list_filter({TOKS_SQL}, x -> x IN ({_LANG_SQL_COUNTS['de']}))) AS n_de,
         len(list_filter({TOKS_SQL}, x -> x IN ({_LANG_SQL_COUNTS['en']}))) AS n_en,
         len(list_filter({TOKS_SQL}, x -> x IN ({_LANG_SQL_COUNTS['es']}))) AS n_es,
         len(list_filter({TOKS_SQL}, x -> x IN ({_LANG_SQL_COUNTS['fr']}))) AS n_fr
  FROM documents),
lab AS (
  SELECT lang AS gold,
         CASE WHEN n_fr > greatest(n_de, n_en, n_es) THEN 'fr'
              WHEN n_es > greatest(n_de, n_en) THEN 'es'
              WHEN n_en > n_de THEN 'en'
              ELSE 'de' END AS pred
  FROM c),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN gold = pred THEN 1 ELSE 0 END) AS BIGINT) AS agree
  FROM lab),
ca AS (SELECT pred AS k, CAST(count(*) AS BIGINT) AS na FROM lab GROUP BY pred),
cb AS (SELECT gold AS k, CAST(count(*) AS BIGINT) AS nb FROM lab GROUP BY gold),
marg AS (
  SELECT sum(CAST(coalesce(na, 0) AS DOUBLE)
             * CAST(coalesce(nb, 0) AS DOUBLE)) AS pe_num
  FROM ca FULL JOIN cb ON ca.k = cb.k),
j AS (
  SELECT tot.n,
         CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         pe_num / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
  FROM tot CROSS JOIN marg)
SELECT CASE WHEN pe < 1.0
            THEN floor((po - pe) / (1.0 - pe) * 1000000.0 + 0.5) / 1000000.0
       END AS kappa,
       floor(po * 1000000.0 + 0.5) / 1000000.0 AS po,
       floor(pe * 1000000.0 + 0.5) / 1000000.0 AS pe, n
FROM j""",
)
def q_langid_agreement(spark, sf_dir):
    """Model-vs-gold evaluation composition: Cohen's kappa between the
    language_id heuristic's predictions and the corpus gold labels —
    chance-corrected agreement that stays honest on the gold labels
    (zh, it) the heuristic cannot emit."""
    from ffn_polars_spark.operators.evaluation import cohens_kappa
    from ffn_polars_spark.operators.text import language_id

    docs = read_table(spark, sf_dir, "documents")
    # PINNED: cohens_kappa fans out into three branches (po + the two
    # marginals of the full-outer join), each re-scanning documents and
    # re-running the 4-language vote — and the join's inferred
    # isnotnull(lang_pred) pushes the whole vote expression into the scan
    # filter, doubling it again (17 token splits in the unpinned plan).
    # The prediction frame is two columns at doc cardinality.
    pred = pin(language_id(docs).select("doc_id", "lang_pred"))
    lab = docs.select("doc_id", F.col("lang").alias("gold")).join(
        pred, "doc_id"
    )
    out = cohens_kappa(lab, "lang_pred", "gold")
    return out.select(
        r6("kappa").alias("kappa"), r6("po").alias("po"),
        r6("pe").alias("pe"), "n",
    )


@query(
    "streaming_kmv_distinct",
    TICKS_SQL
    + """, vals AS (
  SELECT DISTINCT event_type,
         (('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':skmv:0'), 18, 15))::BIGINT
          / 1152921504606846976.0) AS h
  FROM ticks),
rk AS (SELECT event_type, h,
              row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       FROM vals),
sk AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_seen,
         CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
              ELSE 63.0 / max(h) END AS kmv_estimate
  FROM rk WHERE rn <= 64 GROUP BY event_type),
ne AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
       FROM ticks GROUP BY event_type)
SELECT ne.event_type, ne.n_events, sk.n_seen,
       floor(sk.kmv_estimate * 1000000.0 + 0.5) / 1000000.0 AS kmv_estimate
FROM ne JOIN sk ON sk.event_type = ne.event_type""",
)
def q_streaming_kmv_distinct(spark, sf_dir):
    """Stateful streaming KMV distinct-user sketch (applyInPandasWithState,
    k=64): min-k of a hash set is commutative and duplicate-blind, so the
    drained estimate equals the batch sketch under ANY micro-batching —
    the oracle needs no ordering assumption at all."""
    from ffn_polars_spark.sim.rand import uniform
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        stateful_kmv_distinct,
    )

    stage = _stage_stream_dir(sf_dir, "events", "ffn_stream")
    stream = read_tick_stream(spark, stage, ts_col="ts").withColumn(
        "__h", uniform(F.col("user_id"), "skmv", 0, hash_fn="md5")
    )
    out = stateful_kmv_distinct(stream, "event_type", "__h", k=64)
    drained = run_available_now(out, output_mode="update")
    return drained.select(
        "event_type", "n_events", "n_seen",
        r6("kmv_estimate").alias("kmv_estimate"),
    )


@query(
    "abc_analysis",
    """
WITH per AS (
  SELECT l_partkey AS k, sum(CAST(l_quantity AS DOUBLE)) AS v
  FROM lineitem GROUP BY l_partkey),
cum AS (
  SELECT k, v,
         sum(v) OVER (ORDER BY -v, k
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM per),
tot AS (SELECT sum(v) AS t FROM per)
SELECT k AS part, v AS value,
       floor(v / tot.t * 1000000.0 + 0.5) / 1000000.0 AS share,
       floor(c / tot.t * 1000000.0 + 0.5) / 1000000.0 AS cum_share,
       CASE WHEN (c - v) / tot.t < 0.8 THEN 'A'
            WHEN (c - v) / tot.t < 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM cum CROSS JOIN tot""",
)
def q_abc_analysis(spark, sf_dir):
    """ABC/Pareto classification of parts by units moved: one aggregate
    to key cardinality + ranged_cumsum over the contribution ordering;
    integer-valued quantities keep the cumulative exact, so the class
    boundary comparison is engine-independent."""
    from ffn_polars_spark.operators.quality import abc_analysis

    li = read_table(spark, sf_dir, "lineitem")
    out = abc_analysis(
        li.select(F.col("l_partkey").alias("part"), "l_quantity"),
        "part", "l_quantity",
    )
    return out.select(
        "part", "value", r6("share").alias("share"),
        r6("cum_share").alias("cum_share"), "abc_class",
    )


@query(
    "weighted_quantile",
    TICKS_SQL
    + """, s AS (
  SELECT event_type, price,
         sum(volume) OVER (PARTITION BY event_type ORDER BY price
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(volume) OVER (PARTITION BY event_type) AS tw
  FROM ticks)
SELECT event_type, CAST(max(tw) AS DOUBLE) AS total_weight,
       CAST(count(*) AS BIGINT) AS n,
       min(CASE WHEN cw >= 0.5 * tw THEN price END) AS p50_w,
       min(CASE WHEN cw >= 0.9 * tw THEN price END) AS p90_w
FROM s GROUP BY event_type""",
)
def q_weighted_quantile(spark, sf_dir):
    """Volume-weighted price quantiles per ticker (Type-1 weighted
    median/p90): one cumulative-weight window + one conditional-min
    aggregate; integer weights keep the crossing row exact."""
    from ffn_polars_spark.operators.sketch import weighted_quantile

    t = ticks(spark, sf_dir)
    out = weighted_quantile(
        t, "price", "volume", group_by=["event_type"], quantiles=(0.5, 0.9)
    )
    return out.select("event_type", "total_weight", "n", "p50_w", "p90_w")


@query(
    "time_to_convert",
    TICKS_SQL
    + """, u AS (
  SELECT user_id, CAST(user_id % 3 AS VARCHAR) AS cohort, event_type,
         ts_ns // 1000 AS ts_us
  FROM ticks),
s AS (
  SELECT user_id, cohort, event_type, ts_us,
         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts_us
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seen
  FROM u),
pu AS (
  SELECT user_id, min(cohort) AS cohort,
         min(CASE WHEN event_type = 'view' THEN CAST(ts_us AS DOUBLE) END) AS t0,
         min(CASE WHEN event_type = 'purchase' AND seen = 1
                  THEN CAST(ts_us AS DOUBLE) END) AS t1
  FROM s GROUP BY user_id),
conv AS (SELECT * FROM pu WHERE t0 IS NOT NULL)
SELECT cohort, CAST(count(*) AS BIGINT) AS n_started,
       CAST(count(t1) AS BIGINT) AS n_converted,
       floor(CAST(count(t1) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS conversion_rate,
       quantile_cont(t1 - t0, 0.5) AS p50_delta,
       quantile_cont(t1 - t0, 0.9) AS p90_delta
FROM conv GROUP BY cohort""",
)
def q_time_to_convert(spark, sf_dir):
    """View-to-purchase conversion latency per user-cohort: a running
    seen-flag window enforces event order, exact interpolated latency
    quantiles summarize — microsecond deltas stay exact in doubles."""
    from ffn_polars_spark.operators.funnel import time_to_convert

    t = ticks(spark, sf_dir).select(
        "user_id",
        (F.col("user_id") % 3).cast("string").alias("cohort"),
        "event_type",
        F.expr("ts_ns div 1000").alias("ts_us"),
    )
    out = time_to_convert(
        t, "user_id", "event_type", "ts_us", "view", "purchase",
        by="cohort", quantiles=(0.5, 0.9),
    )
    return out.select(
        "cohort", "n_started", "n_converted",
        r6("conversion_rate").alias("conversion_rate"),
        "p50_delta", "p90_delta",
    )


@query(
    "seasonal_outliers",
    f"""
WITH e AS (
  SELECT event_type, event_id, value,
         CAST(floor((epoch_us(ts) * 1000 % 86400000000000) / 3600000000000) AS INT) AS phase
  FROM events),
pm AS (
  SELECT event_type, phase, avg(value) AS pm, count(value) AS pn
  FROM e GROUP BY event_type, phase),
gm AS (
  SELECT event_type, sum(pm * pn) / sum(pn) AS gm
  FROM pm GROUP BY event_type),
idx AS (
  SELECT pm.event_type, pm.phase,
         CASE WHEN gm.gm <> 0 THEN pm.pm / gm.gm END AS si
  FROM pm JOIN gm USING (event_type)),
adj AS (
  SELECT e.event_type,
         {R("CASE WHEN idx.si <> 0 THEN e.value / idx.si END")} AS va
  FROM e JOIN idx ON e.event_type = idx.event_type AND e.phase = idx.phase),
m AS (SELECT event_type, quantile_cont(va, 0.5) AS med
      FROM adj GROUP BY event_type),
d AS (SELECT adj.event_type, m.med, abs(adj.va - m.med) AS absdev
      FROM adj JOIN m USING (event_type)),
md AS (SELECT event_type, quantile_cont(absdev, 0.5) AS mad
       FROM d GROUP BY event_type)
SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
       floor(max(d.med) * 1000000.0 + 0.5) / 1000000.0 AS median,
       floor(max(md.mad) * 1000000.0 + 0.5) / 1000000.0 AS mad,
       CAST(sum(CASE WHEN d.absdev > 3.0 * 1.4826 * md.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM d JOIN md USING (event_type) GROUP BY d.event_type""",
)
def q_seasonal_outliers(spark, sf_dir):
    """Composition: deseasonalize event values (hour-of-day index), then
    run the median/MAD robust screen on the ADJUSTED values — anomalies
    the raw screen hides inside the daily cycle. The stage handoff is
    r6-quantized on both engines so the fence comparisons are exact."""
    from ffn_polars_spark.operators.pipeline import seasonal_adjust
    from ffn_polars_spark.operators.sketch import robust_outliers

    ev = read_table(spark, sf_dir, "events")
    t = ticks(spark, sf_dir).select("event_type", "event_id", "ts_ns").join(
        ev.select("event_id", "value"), "event_id"
    )
    adj = seasonal_adjust(
        t, "value", "ts_ns", by="event_type",
        period_ns=86_400_000_000_000, buckets=24,
    )
    quant = adj.select(
        "event_type", r6("value_adjusted").alias("va")
    ).where(F.col("va").isNotNull())
    out = robust_outliers(quant, "va", group_by=["event_type"], k=3.0)
    return out.select(
        "event_type", "n", r6("median").alias("median"),
        r6("mad").alias("mad"), "n_outliers",
    )


@query(
    "simpson_check",
    f"""
WITH base AS (
  SELECT CAST(l_returnflag AS VARCHAR) AS g,
         CAST(l_quantity AS DOUBLE) AS x, CAST(l_extendedprice AS DOUBLE) AS y
  FROM lineitem WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
per AS (
  SELECT g AS stratum, CAST(count(*) AS BIGINT) AS n,
         covar_pop(x, y) AS covariance, var_pop(x) AS vx
  FROM base GROUP BY g),
pool AS (
  SELECT '__pooled__' AS stratum, CAST(count(*) AS BIGINT) AS n,
         covar_pop(x, y) AS covariance, var_pop(x) AS vx
  FROM base),
u AS (SELECT * FROM per UNION ALL SELECT * FROM pool)
SELECT stratum, n,
       {R("covariance")} AS covariance,
       CASE WHEN vx > 0 THEN {R("covariance / vx")} END AS slope
FROM u""",
)
def q_simpson_check(spark, sf_dir):
    """Simpson's-paradox screen on the quantity-price association per
    return flag vs pooled — two closed-form moment aggregates, nothing
    at row cardinality afterwards."""
    from ffn_polars_spark.operators.evaluation import simpson_check

    li = read_table(spark, sf_dir, "lineitem")
    out = simpson_check(li, "l_quantity", "l_extendedprice", "l_returnflag")
    return out.select(
        "stratum", "n", r6("covariance").alias("covariance"),
        r6("slope").alias("slope"),
    )


@query(
    "feature_auc_screen",
    """
WITH lab AS (
  SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
         CAST(epoch_us(o_orderdate) / 86400000000.0 AS DOUBLE) AS d_days,
         CAST(o_totalprice AS DOUBLE) AS d_price,
         CAST(o_custkey % 100 AS DOUBLE) AS d_cust
  FROM orders),
long AS (
  SELECT 'days' AS feature, d_days AS v, y FROM lab
  UNION ALL SELECT 'price', d_price, y FROM lab
  UNION ALL SELECT 'cust', d_cust, y FROM lab),
rk AS (
  SELECT feature, v, y,
         rank() OVER (PARTITION BY feature ORDER BY v)
           + (count(*) OVER (PARTITION BY feature, v) - 1) / 2.0 AS r
  FROM long WHERE v IS NOT NULL),
agg AS (
  SELECT feature,
         sum(CASE WHEN y = 1 THEN r END) AS sr,
         CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0
  FROM rk GROUP BY feature)
SELECT feature,
       CASE WHEN n1 > 0 AND n0 > 0
            THEN floor((sr - n1 * (n1 + 1.0) / 2.0) / (n1 * n0)
                       * 1000000.0 + 0.5) / 1000000.0 END AS auc,
       CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg
FROM agg""",
)
def q_feature_auc_screen(spark, sf_dir):
    """Single-feature ROC AUCs against the order-finished label in one
    pass: explode-unpivot + shared midrank machinery; order date should
    dominate (old orders finish), customer bucket should sit at 0.5."""
    from ffn_polars_spark.operators.evaluation import feature_auc_screen

    orders = read_table(spark, sf_dir, "orders")
    pre = orders.select(
        (F.col("o_orderstatus") == "F").cast("int").alias("y"),
        (F.unix_micros(F.col("o_orderdate").cast("timestamp")) / F.lit(86400000000.0)).alias(
            "days"
        ),
        F.col("o_totalprice").cast("double").alias("price"),
        (F.col("o_custkey") % 100).cast("double").alias("cust"),
    )
    out = feature_auc_screen(pre, "y", ["days", "price", "cust"])
    return out.select("feature", r6("auc").alias("auc"), "n_pos", "n_neg")


@query(
    "self_excitation",
    TICKS_SQL
    + f""", g AS (
  SELECT event_type,
         CAST(ts_ns AS DOUBLE) AS ts,
         CAST(ts_ns AS DOUBLE)
           - lag(CAST(ts_ns AS DOUBLE)) OVER ({W}) AS gap
  FROM ticks),
a AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN gap < 1000000000.0 THEN 1 ELSE 0 END) AS BIGINT) AS sh,
         CAST(count(gap) AS BIGINT) AS ng,
         max(ts) - min(ts) AS span
  FROM g GROUP BY event_type),
c AS (
  SELECT event_type, n,
         CASE WHEN span > 0 THEN CAST(n - 1 AS DOUBLE) / span END AS lam,
         CASE WHEN ng > 0 THEN CAST(sh AS DOUBLE) / CAST(ng AS DOUBLE) END AS fo,
         span
  FROM a),
e AS (
  SELECT event_type, n, lam, fo,
         1.0 - exp(-lam * 1000000000.0) AS fe
  FROM c)
SELECT event_type, n, {R("lam * 1000000000.0")} AS lam_per_s,
       {R("fo")} AS frac_observed, {R("fe")} AS frac_expected,
       CASE WHEN fe > 0 THEN {R("fo / fe")} END AS excitation_ratio
FROM e""",
)
def q_self_excitation(spark, sf_dir):
    """Hawkes-style self-excitation at the 1-second timescale per ticker:
    observed short-gap fraction vs the Poisson expectation at the key's
    own rate — one lag window + one closed-form aggregate."""
    from ffn_polars_spark.functions.tick_activity import self_excitation

    t = ticks(spark, sf_dir)
    out = self_excitation(
        t, ts_col="ts_ns", by="event_type", tau=1_000_000_000.0,
        tiebreak="event_id",
    )
    return out.select(
        "event_type", "n",
        r6(F.col("lam") * F.lit(1_000_000_000.0)).alias("lam_per_s"),
        r6("frac_observed").alias("frac_observed"),
        r6("frac_expected").alias("frac_expected"),
        r6("excitation_ratio").alias("excitation_ratio"),
    )


@query(
    "ols2_by_group",
    TICKS_SQL
    + f""", rr AS (
  SELECT event_type, ts_ns, event_id, volume,
         price / lag(price) OVER ({W}) - 1 AS r,
         price_b / lag(price_b) OVER ({W}) - 1 AS rb
  FROM ticks),
b AS (SELECT * FROM rr WHERE r IS NOT NULL AND rb IS NOT NULL
                         AND volume IS NOT NULL),
m AS (
  SELECT event_type,
         var_pop(rb) AS s11, var_pop(volume) AS s22,
         covar_pop(rb, volume) AS s12,
         covar_pop(rb, r) AS s1y, covar_pop(volume, r) AS s2y,
         var_pop(r) AS syy, avg(r) AS my, avg(rb) AS m1, avg(volume) AS m2,
         CAST(count(*) AS BIGINT) AS n
  FROM b GROUP BY event_type),
c AS (
  SELECT event_type, n, syy, s1y, s2y, my, m1, m2,
         s11 * s22 - s12 * s12 AS det,
         (s22 * s1y - s12 * s2y) AS n1, (s11 * s2y - s12 * s1y) AS n2
  FROM m)
SELECT event_type,
       CASE WHEN det > 0
            THEN {R("my - (n1 / det) * m1 - (n2 / det) * m2")} END AS alpha,
       CASE WHEN det > 0 THEN {R("n1 / det")} END AS beta1,
       CASE WHEN det > 0 THEN {R("n2 / det")} END AS beta2,
       CASE WHEN det > 0 AND syy > 0
            THEN {R("((n1 / det) * s1y + (n2 / det) * s2y) / syy")} END AS r2,
       n
FROM c""",
)
def q_ols2_by_group(spark, sf_dir):
    """Two-factor OLS per ticker (own return on the B-leg return and
    volume): the 2x2 normal equations solved in closed form from ONE
    moment aggregate — no iterative solver, nothing at row cardinality
    after the aggregate."""
    from ffn_polars_spark.operators.evaluation import ols2_by_group

    t = ticks(spark, sf_dir)
    pre = t.select(
        "event_type", "volume",
        ffn.eod.to_returns("price", over=TICK_OVER).alias("r"),
        ffn.eod.to_returns("price_b", over=TICK_OVER).alias("rb"),
    )
    out = ols2_by_group(pre, "r", "rb", "volume", by="event_type")
    return out.select(
        "event_type", r6("alpha").alias("alpha"), r6("beta1").alias("beta1"),
        r6("beta2").alias("beta2"), r6("r2").alias("r2"), "n",
    )


@query(
    "interval_diff",
    TICKS_SQL
    + """, ab AS (
  SELECT ts_ns // 1000 AS s, ts_ns // 1000 + 300000000 AS e,
         CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS tag
  FROM ticks WHERE event_type IN ('purchase', 'view')),
ev AS (
  SELECT CAST(s AS DOUBLE) AS p, CASE WHEN tag = 'a' THEN 1 ELSE 0 END AS da,
         CASE WHEN tag = 'b' THEN 1 ELSE 0 END AS db FROM ab
  UNION ALL
  SELECT CAST(e AS DOUBLE), CASE WHEN tag = 'a' THEN -1 ELSE 0 END,
         CASE WHEN tag = 'b' THEN -1 ELSE 0 END FROM ab),
per AS (SELECT p, sum(da) AS da, sum(db) AS db FROM ev GROUP BY p),
st AS (
  SELECT p,
         sum(da) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
         sum(db) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
         lead(p) OVER (ORDER BY p) AS pn
  FROM per),
seg AS (SELECT pn - p AS len, ca > 0 AS ia, cb > 0 AS ib
        FROM st WHERE pn IS NOT NULL)
SELECT sum(CASE WHEN ia AND NOT ib THEN len ELSE 0.0 END) AS only_a,
       sum(CASE WHEN ib AND NOT ia THEN len ELSE 0.0 END) AS only_b,
       sum(CASE WHEN ia AND ib THEN len ELSE 0.0 END) AS both,
       sum(CASE WHEN ia THEN len ELSE 0.0 END) AS total_a,
       sum(CASE WHEN ib THEN len ELSE 0.0 END) AS total_b
FROM seg""",
)
def q_interval_diff(spark, sf_dir):
    """Interval-set difference between purchase-activity windows and
    view-activity windows (5 min each, half-open): boundary sweep with
    per-set counters — no join between the interval sets; microsecond
    arithmetic keeps every segment sum exact."""
    from ffn_polars_spark.operators.ranges import interval_diff

    t = ticks(spark, sf_dir).withColumn("ts_us", F.expr("ts_ns div 1000"))
    win = lambda typ: t.where(F.col("event_type") == typ).select(
        F.col("ts_us").alias("s"),
        (F.col("ts_us") + F.lit(300000000)).alias("e"),
    )
    out = interval_diff(win("purchase"), win("view"), "s", "e")
    return out.select("only_a", "only_b", "both", "total_a", "total_b")


@query(
    "qq_data",
    TICKS_SQL
    + """, sa AS (
  SELECT quantile_cont(price, 0.05) AS q0,
         quantile_cont(price, 0.10) AS q1,
         quantile_cont(price, 0.15) AS q2,
         quantile_cont(price, 0.20) AS q3,
         quantile_cont(price, 0.25) AS q4,
         quantile_cont(price, 0.30) AS q5,
         quantile_cont(price, 0.35) AS q6,
         quantile_cont(price, 0.40) AS q7,
         quantile_cont(price, 0.45) AS q8,
         quantile_cont(price, 0.50) AS q9,
         quantile_cont(price, 0.55) AS q10,
         quantile_cont(price, 0.60) AS q11,
         quantile_cont(price, 0.65) AS q12,
         quantile_cont(price, 0.70) AS q13,
         quantile_cont(price, 0.75) AS q14,
         quantile_cont(price, 0.80) AS q15,
         quantile_cont(price, 0.85) AS q16,
         quantile_cont(price, 0.90) AS q17,
         quantile_cont(price, 0.95) AS q18
  FROM ticks WHERE event_type = 'purchase'),
sb AS (
  SELECT quantile_cont(price, 0.05) AS q0,
         quantile_cont(price, 0.10) AS q1,
         quantile_cont(price, 0.15) AS q2,
         quantile_cont(price, 0.20) AS q3,
         quantile_cont(price, 0.25) AS q4,
         quantile_cont(price, 0.30) AS q5,
         quantile_cont(price, 0.35) AS q6,
         quantile_cont(price, 0.40) AS q7,
         quantile_cont(price, 0.45) AS q8,
         quantile_cont(price, 0.50) AS q9,
         quantile_cont(price, 0.55) AS q10,
         quantile_cont(price, 0.60) AS q11,
         quantile_cont(price, 0.65) AS q12,
         quantile_cont(price, 0.70) AS q13,
         quantile_cont(price, 0.75) AS q14,
         quantile_cont(price, 0.80) AS q15,
         quantile_cont(price, 0.85) AS q16,
         quantile_cont(price, 0.90) AS q17,
         quantile_cont(price, 0.95) AS q18
  FROM ticks WHERE event_type = 'view'),
la AS (
  SELECT u.* FROM sa a, (VALUES
    (0.05, a.q0),
    (0.10, a.q1),
    (0.15, a.q2),
    (0.20, a.q3),
    (0.25, a.q4),
    (0.30, a.q5),
    (0.35, a.q6),
    (0.40, a.q7),
    (0.45, a.q8),
    (0.50, a.q9),
    (0.55, a.q10),
    (0.60, a.q11),
    (0.65, a.q12),
    (0.70, a.q13),
    (0.75, a.q14),
    (0.80, a.q15),
    (0.85, a.q16),
    (0.90, a.q17),
    (0.95, a.q18)) AS u(q, quantile_a)),
lb AS (
  SELECT u.* FROM sb b, (VALUES
    (0.05, b.q0),(0.10, b.q1),(0.15, b.q2),(0.20, b.q3),(0.25, b.q4),(0.30, b.q5),(0.35, b.q6),(0.40, b.q7),(0.45, b.q8),(0.50, b.q9),(0.55, b.q10),(0.60, b.q11),(0.65, b.q12),(0.70, b.q13),(0.75, b.q14),(0.80, b.q15),(0.85, b.q16),(0.90, b.q17),(0.95, b.q18)) AS u(q, quantile_b))
SELECT la.q,
       floor(quantile_a * 1000000.0 + 0.5) / 1000000.0 AS quantile_a,
       floor(quantile_b * 1000000.0 + 0.5) / 1000000.0 AS quantile_b,
       floor((quantile_a - quantile_b) * 1000000.0 + 0.5) / 1000000.0 AS diff
FROM la JOIN lb ON la.q = lb.q""",
)
def q_qq_data(spark, sf_dir):
    """QQ frame between the purchase and view price distributions at the
    5..95 percentile grid — two exact-percentile aggregates joined on
    the probability; localizes the drift the scalar gates summarize."""
    from ffn_polars_spark.operators.quality import qq_data

    t = ticks(spark, sf_dir)
    out = qq_data(t, "price", "event_type", "purchase", "view")
    return out.select(
        "q", r6("quantile_a").alias("quantile_a"),
        r6("quantile_b").alias("quantile_b"), r6("diff").alias("diff"),
    )


@query(
    "session_paths",
    TICKS_SQL
    + """, pu AS (
  SELECT user_id,
         array_to_string(
           (list(event_type ORDER BY ts_ns, event_id))[1:5], '->') AS path
  FROM ticks GROUP BY user_id),
c AS (SELECT path, CAST(count(*) AS BIGINT) AS n_users FROM pu GROUP BY path),
rk AS (
  SELECT path, n_users,
         row_number() OVER (ORDER BY n_users DESC, path ASC) AS rank
  FROM c)
SELECT path, n_users, rank FROM rk WHERE rank <= 20""",
)
def q_session_paths(spark, sf_dir):
    """Top-20 five-event session openings: one deterministic ordered
    collect per user (sort_array over structs), one path aggregate, one
    WindowGroupLimit cut."""
    from ffn_polars_spark.operators.funnel import session_paths

    t = ticks(spark, sf_dir)
    out = session_paths(
        t, "user_id", "event_type", "ts_ns",
        max_events=5, top_k=20, tiebreak_col="event_id",
    )
    return out.select("path", "n_users", "rank")


@query(
    "adf_stat",
    TICKS_SQL
    + f""", l AS (
  SELECT event_type, price AS x,
         lag(price) OVER ({W}) AS xp
  FROM ticks),
b AS (SELECT event_type, x - xp AS d, xp FROM l WHERE xp IS NOT NULL),
m AS (
  SELECT event_type,
         sum(d * xp) AS sdx, sum(xp * xp) AS sxx, sum(d * d) AS sdd,
         CAST(count(*) AS BIGINT) AS n
  FROM b GROUP BY event_type),
c AS (
  SELECT event_type, n, sdx, sxx, sdd,
         CASE WHEN sxx > 0 THEN sdx / sxx END AS beta
  FROM m),
e AS (
  SELECT event_type, n, beta,
         CASE WHEN n > 1 AND sxx > 0
              THEN ((sdd - 2.0 * beta * sdx + beta * beta * sxx)
                    / CAST(n - 1 AS DOUBLE)) / sxx END AS se2
  FROM c)
SELECT event_type, {R("beta")} AS beta,
       CASE WHEN se2 > 0 THEN {R("beta / sqrt(se2)")} END AS t_stat, n
FROM e""",
)
def q_adf_stat(spark, sf_dir):
    """No-constant Dickey-Fuller unit-root t on the tick price level per
    ticker: one lag window, one closed-form moment aggregate (SSR
    expanded algebraically)."""
    from ffn_polars_spark.functions.tick_price import adf_stat

    t = ticks(spark, sf_dir)
    out = adf_stat(t, "price", order_by=["ts_ns", "event_id"], by="event_type")
    return out.select(
        "event_type", r6("beta").alias("beta"),
        r6("t_stat").alias("t_stat"), "n",
    )


@query(
    "effective_sample_size",
    TICKS_SQL
    + f""", rr AS (
  SELECT event_type, ts_ns, event_id,
         price / lag(price) OVER ({W}) - 1 AS r
  FROM ticks),
b AS (SELECT * FROM rr WHERE r IS NOT NULL),
mu AS (SELECT event_type, avg(r) AS mu FROM b GROUP BY event_type),
u AS (
  SELECT b.event_type, b.ts_ns, b.event_id, b.r - mu.mu AS u
  FROM b JOIN mu ON b.event_type = mu.event_type),
l AS (
  SELECT event_type, u,
         lag(u, 1) OVER ({W}) AS u1, lag(u, 2) OVER ({W}) AS u2,
         lag(u, 3) OVER ({W}) AS u3, lag(u, 4) OVER ({W}) AS u4,
         lag(u, 5) OVER ({W}) AS u5
  FROM u),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         sum(u * u) AS g0, sum(u * u1) AS g1, sum(u * u2) AS g2,
         sum(u * u3) AS g3, sum(u * u4) AS g4, sum(u * u5) AS g5
  FROM l GROUP BY event_type),
c AS (
  SELECT event_type, n, g0,
         coalesce(g1, 0.0) / g0 + coalesce(g2, 0.0) / g0
           + coalesce(g3, 0.0) / g0 + coalesce(g4, 0.0) / g0
           + coalesce(g5, 0.0) / g0 AS rs
  FROM g)
SELECT event_type, n,
       CASE WHEN g0 > 0
            THEN {R("CAST(n AS DOUBLE) / greatest(1.0, 1.0 + 2.0 * rs)")}
            ELSE CAST(n AS DOUBLE) END AS n_eff,
       CASE WHEN g0 > 0 THEN {R("rs")} END AS autocorr_sum
FROM c""",
)
def q_effective_sample_size(spark, sf_dir):
    """Autocorrelation-adjusted effective n of tick returns per ticker
    (5 lags, shared-exchange lag stack) — the honest denominator for
    any SE on serially correlated data."""
    from ffn_polars_spark.operators.evaluation import effective_sample_size

    t = ticks(spark, sf_dir)
    pre = t.select(
        "event_type", "ts_ns", "event_id",
        ffn.eod.to_returns("price", over=TICK_OVER).alias("r"),
    )
    out = effective_sample_size(
        pre, "r", order_by=["ts_ns", "event_id"], by="event_type", lags=5
    )
    return out.select(
        "event_type", "n", r6("n_eff").alias("n_eff"),
        r6("autocorr_sum").alias("autocorr_sum"),
    )


@query(
    "rate_ratio_test",
    TICKS_SQL
    + f""", lab AS (
  SELECT event_type, CAST(user_id % 2 AS INT) AS v FROM ticks),
agg AS (
  SELECT event_type,
         CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
         CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_0
  FROM lab GROUP BY event_type),
c AS (
  SELECT event_type, n_1, n_0,
         CAST(n_1 AS DOUBLE) / 1.0 AS r1,
         CAST(n_0 AS DOUBLE) / 1.0 AS r0
  FROM agg)
SELECT event_type, {R("r1")} AS rate_1, {R("r0")} AS rate_0,
       CASE WHEN r0 > 0 THEN {R("r1 / r0")} END AS rate_ratio,
       CASE WHEN n_1 > 0 AND n_0 > 0 AND r1 / r0 > 0
            THEN {R("ln(r1 / r0) / sqrt(1.0 / CAST(n_1 AS DOUBLE) + 1.0 / CAST(n_0 AS DOUBLE))")}
       END AS z,
       n_1, n_0
FROM c""",
)
def q_rate_ratio_test(spark, sf_dir):
    """Poisson rate-ratio z-test per ticker (odd- vs even-user event
    rates at unit exposure) — one hash aggregate, closed-form log-ratio
    variance."""
    from ffn_polars_spark.operators.evaluation import rate_ratio_test

    t = ticks(spark, sf_dir)
    lab = t.select(
        "event_type", (F.col("user_id") % 2).cast("int").alias("v")
    )
    out = rate_ratio_test(lab, "v", by="event_type")
    return out.select(
        "event_type", r6("rate_1").alias("rate_1"), r6("rate_0").alias("rate_0"),
        r6("rate_ratio").alias("rate_ratio"), r6("z").alias("z"), "n_1", "n_0",
    )


@query(
    "tail_dependence",
    TICKS_SQL
    + f""", b AS (
  SELECT event_type, price AS x, price_b AS y FROM ticks),
cuts AS (
  SELECT event_type, quantile_cont(x, 0.95) AS qx, quantile_cont(y, 0.95) AS qy
  FROM b GROUP BY event_type),
j AS (
  SELECT b.event_type, b.x > cuts.qx AS ix,
         b.x > cuts.qx AND b.y > cuts.qy AS ib
  FROM b JOIN cuts ON b.event_type = cuts.event_type),
a AS (
  SELECT event_type,
         CAST(sum(CASE WHEN ix THEN 1 ELSE 0 END) AS BIGINT) AS n_tail_x,
         CAST(sum(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CAST(count(*) AS BIGINT) AS n
  FROM j GROUP BY event_type)
SELECT event_type,
       CASE WHEN n_tail_x > 0
            THEN {R("CAST(nb AS DOUBLE) / CAST(n_tail_x AS DOUBLE)")}
       END AS lambda_u,
       CAST(1.0 AS DOUBLE) - CAST(0.95 AS DOUBLE) AS benchmark,
       CASE WHEN n_tail_x > 0
            THEN {R("CAST(nb AS DOUBLE) / CAST(n_tail_x AS DOUBLE) / (CAST(1.0 AS DOUBLE) - CAST(0.95 AS DOUBLE))")}
       END AS lift,
       n_tail_x, n
FROM a""",
)
def q_tail_dependence(spark, sf_dir):
    """Upper-tail co-exceedance of the two tape price legs at q=0.95 per
    ticker — exact per-group quantile cuts broadcast back, one counting
    aggregate; lift >> 1 flags tail coupling."""
    from ffn_polars_spark.operators.evaluation import tail_dependence

    t = ticks(spark, sf_dir)
    out = tail_dependence(t, "price", "price_b", by="event_type", q=0.95)
    return out.select(
        "event_type", r6("lambda_u").alias("lambda_u"),
        "benchmark", r6("lift").alias("lift"), "n_tail_x", "n",
    )


@query(
    "centroid_outliers",
    f"""
WITH ex AS (
  SELECT vec_id, label, CAST(t.u[2] AS BIGINT) - 1 AS dim,
         CAST(t.u[1] AS DOUBLE) AS v
  FROM embeddings,
       unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS t(u)),
cents AS (
  SELECT label, dim, avg(v) AS mu FROM ex GROUP BY label, dim),
per AS (
  SELECT ex.vec_id, ex.label,
         sum(ex.v * cents.mu) AS dot, sum(ex.v * ex.v) AS vv,
         sum(cents.mu * cents.mu) AS mm
  FROM ex JOIN cents ON ex.label = cents.label AND ex.dim = cents.dim
  GROUP BY ex.vec_id, ex.label),
scored AS (
  SELECT vec_id, label,
         CASE WHEN sqrt(vv) * sqrt(mm) > 0
              THEN floor(dot / (sqrt(vv) * sqrt(mm)) * 1000000.0 + 0.5)
                   / 1000000.0 END AS cos_sim
  FROM per),
med_f AS (SELECT label, quantile_cont(cos_sim, 0.5) AS med
          FROM scored GROUP BY label),
dev AS (
  SELECT scored.vec_id, scored.label, scored.cos_sim, med_f.med,
         abs(scored.cos_sim - med_f.med) AS ad
  FROM scored JOIN med_f ON scored.label = med_f.label),
mad_f AS (SELECT label, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY label)
SELECT dev.vec_id, dev.label, dev.cos_sim,
       {R("dev.med")} AS med, {R("mad_f.mad")} AS mad,
       dev.cos_sim < dev.med - 3.0 * 1.4826 * mad_f.mad AS is_outlier
FROM dev JOIN mad_f ON dev.label = mad_f.label""",
)
def q_centroid_outliers(spark, sf_dir):
    """Label-noise screen: cosine to own-label centroid with a one-sided
    median/MAD fence — r6-quantized similarities make the fence
    comparison engine-exact; the centroid frame broadcasts."""
    from ffn_polars_spark.operators.similarity import centroid_outliers

    emb = read_table(spark, sf_dir, "embeddings")
    out = centroid_outliers(emb, "label", "embedding", "vec_id", k=3.0)
    return out.select(
        "vec_id", "label", "cos_sim", r6("med").alias("med"),
        r6("mad").alias("mad"), "is_outlier",
    )


@query(
    "conflict_pairs",
    f"""
WITH aug AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 100000, embedding, label + 1
  FROM embeddings WHERE vec_id < 50),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {R("list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))")} AS cosine,
         a.label AS label_a, b.label AS label_b
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine, label_a, label_b
FROM pairs
WHERE cosine >= 0.95 AND label_a <> label_b""",
)
def q_conflict_pairs(spark, sf_dir):
    """Annotation-inconsistency detector on a corpus with planted
    conflicts (50 exact-duplicate vectors re-labeled): near-identical
    embeddings carrying different labels surface for review."""
    from ffn_polars_spark.operators.similarity import conflict_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    planted = emb.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        "embedding",
        (F.col("label") + 1).alias("label"),
    )
    aug = emb.unionByName(planted)
    out = conflict_pairs(aug, "label", threshold=0.95)
    return out.select("id_a", "id_b", "cosine", "label_a", "label_b")


@query(
    "price_clustering",
    TICKS_SQL
    + f""", d AS (
  SELECT event_type,
         CAST(CAST(floor(price * 100.0 + 0.5) AS BIGINT) % 10 AS INT) AS digit
  FROM ticks),
c AS (SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
      FROM d GROUP BY event_type, digit),
t AS (SELECT event_type, digit, n,
             sum(n) OVER (PARTITION BY event_type) AS tot
      FROM c)
SELECT event_type, digit, n,
       {R("CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)")} AS freq,
       {R("CAST(tot AS DOUBLE) * (CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) - 0.1) * (CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) - 0.1) / 0.1")} AS chi2_term
FROM t""",
)
def q_price_clustering(spark, sf_dir):
    """Final-cent-digit clustering per ticker vs the uniform 1/10 —
    projection + two hash aggregates, benford_digits' chi-square
    convention."""
    from ffn_polars_spark.functions.tick_price import price_clustering

    t = ticks(spark, sf_dir)
    out = price_clustering(t, "price", by="event_type", tick_scale=100.0)
    return out.select(
        "event_type", "digit", "n", r6("freq").alias("freq"),
        r6("chi2_term").alias("chi2_term"),
    )


@query(
    "vocab_gini",
    f"""
WITH tok AS (
  SELECT lang, unnest({TOKS_SQL}) AS token FROM documents),
cnt AS (
  SELECT lang, token, CAST(count(*) AS DOUBLE) AS v
  FROM tok WHERE token <> '' GROUP BY lang, token),
ranked AS (
  SELECT lang, v,
         row_number() OVER (PARTITION BY lang ORDER BY v ASC, token ASC) AS i
  FROM cnt)
SELECT lang,
       {R("CASE WHEN sum(v) > 0 THEN 2.0 * sum(i * v) / (count(*) * sum(v)) - (count(*) + 1.0) / count(*) END")} AS gini,
       count(*) AS n,
       {R("sum(v)")} AS total
FROM ranked GROUP BY lang""",
)
def q_vocab_gini(spark, sf_dir):
    """Vocabulary-frequency inequality per language (Gini over token
    counts): the concentration reading of the Zipf curve — one token
    aggregate, then gini_by_group's rank identity on the vocab frame."""
    from ffn_polars_spark.operators.quality import gini_by_group
    from ffn_polars_spark.operators.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(tokens(F.col("text"))).alias("token")
    ).where(F.col("token") != "")
    cnt = tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("double").alias("v")
    )
    out = gini_by_group(cnt, "v", group_col="lang", id_col="token")
    return out.select(
        F.col("lang"), r6("gini").alias("gini"), "n", r6("total").alias("total")
    )


@query(
    "duplicate_rate_by_source",
    f"""
WITH fp AS (SELECT doc_id, source, md5({NORM_SQL}) AS fingerprint
            FROM documents),
g AS (SELECT fingerprint, min(doc_id) AS canonical_id
      FROM fp GROUP BY fingerprint),
j AS (
  SELECT fp.source, fp.doc_id <> g.canonical_id AS is_dup
  FROM fp JOIN g ON fp.fingerprint = g.fingerprint)
SELECT source, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_duplicates,
       {R("CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS dup_rate
FROM j GROUP BY source""",
)
def q_duplicate_rate_by_source(spark, sf_dir):
    """Per-source exact-duplicate rate — the curation dashboard's first
    column: dedup_exact's md5 grouping rolled up by source."""
    from ffn_polars_spark.operators.dedup import dedup_exact

    docs = read_table(spark, sf_dir, "documents")
    d = dedup_exact(docs).select("doc_id", "is_duplicate")
    j = docs.select("doc_id", "source").join(d, "doc_id")
    out = j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("is_duplicate"), 1).otherwise(0))
        .cast("long")
        .alias("n_duplicates"),
    )
    return out.select(
        "source", "n", "n_duplicates",
        r6(
            F.col("n_duplicates").cast("double") / F.col("n").cast("double")
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# Catalog ordering — the rotation schedule.
#
# The correctness driver checks a bounded prefix of the catalog per round
# (~50 entries; every recorded round r1-r6 checked exactly 50), so
# registration order IS verification coverage.  The window rotates so no
# entry's driver verdict goes stale, COMPUTED from the repo's own
# CORRECTNESS_r*.json evidence files rather than estimated by hand
# (round 6's lesson: the hand-estimated "~60 new entries" was actually 105,
# which pushed the stale-FAIL block out of the window for a third round).
# tests/test_rotation.py re-derives the never-driver-checked set from those
# evidence files at test time and asserts the window-front invariants below.
#
#   round | window front (prefix)                         | rationale
#   ------+-----------------------------------------------+------------------
#   r7    | [0..9]  the 10 entries whose last driver row  | stale FAIL /
#         |         is the r4 FAIL or that have never     | zero evidence is
#         |         been driver-checked (resample x2,     | the worst state a
#         |         sim_market_day, streaming x7)         | green entry can
#         | [10..14] the 5 streaming oracles with no      | be in
#         |         driver row ever (histogram, interval  |
#         |         join, topk, psi, cusum)               |
#         | [15..19] entries whose CODE changed this      | re-verify after
#         |         round (embedding Gram rewrite, graph  | rewrite
#         |         pin-release + degree-ordered wedges)  |
#         | [20..22] 3 canaries from driver-green blocks  | regression
#         |         (to_returns, realized_vol,            | tripwire
#         |         pricing_summary)                      |
#         | [23..49] oldest never-driver-checked entries  | evidence for the
#         |         (scd2, sketches, dedup, text, drift,  | r5/r6 block
#         |         technicals, portfolio)                |
#   r8    | [0..5]  never-driver-checked entries that     | zero evidence is
#         |         also changed code this round          | the worst state;
#         | [6..31] the 26 oldest never-checked from      | 32 first-ever
#         |         tools/rotation_report.py order        | driver rows
#         | [32..46] driver-green entries whose CODE      | re-verify after
#         |         changed in r8 (clean_corpus/text      | rewrite
#         |         staging, unit() rewrite + similarity  |
#         |         family, Arrow ragged/null paths, the  |
#         |         plan-audit pinned-frame sweep)        |
#         | [47..49] the same 3 canaries as r7            | regression
#         |                                               | tripwire
#   r9    | [0..44] the 45 oldest never-driver-checked    | 45 first-ever
#         |         entries (rotation_report order); the  | driver rows --
#         |         slow-oracle entry ewma rides inside   | closes the gap
#         |         after its oracle speedup              | to 37
#         | [45..47] entries whose CODE changed in r9     | re-verify after
#         |         (ann_topk footer-count guard, preagg  | rewrite
#         |         join key aliasing, triangle_count     |
#         |         single-pass corners)                  |
#         | [48..49] 2 canaries = the spread-sweep's      | regression
#         |         headline entries (text_quality,       | tripwire +
#         |         dedup_minhash_lsh); EOD/tick signal   | r9 re-check
#         |         comes from the window's first-evers   |
#   r10   | [0..38] ALL 39 remaining never-driver-checked | zero catalog
#         |         entries (the 38 r9 riders + the new   | entries without
#         |         semantic_dedup_lsh entry)             | a driver row,
#         | [39]    semantic_dedup (query body refactored | ever, after this
#         |         into the shared planted-copies        | round
#         |         helper -> re-check slot)              |
#         | [40..47] 8 canaries spanning the headline     | regression
#         |         families, weighted toward scans whose | tripwire
#         |         prefix the r10 _scanmeta hardening    |
#         |         touched (text/dedup/similarity/search)|
#         | [48..49] volume_bars + dollar_bars (r10 code  | re-verify after
#         |         change: shared _cum_minus_self router)| rewrite
#   r11   | [0..31] ALL 32 r4-era stalest green rows    | staleness
#         |         (rotation_report order): prob-mom,    | refresh — no
#         |         asof family, TPC-H joins, winnow/     | never-checked
#         |         split/shard/multimodal/session        | or stale-FAIL
#         |         families                              | entries remain
#         | [32..43] entries whose CODE changed in r11    | re-verify after
#         |         (registry rebind, lazy minhash pin,   | rewrite
#         |         abc/bigram exchange cuts, rows_hint   |
#         |         threading, ranged_cumsum NULL-carry   |
#         |         fix representatives)                  |
#         | [44..49] the r11 plan-audit sweep entries     | re-verify after
#         |         (topk_churn/MI/label_stats/heaps_law/ | rewrite
#         |         pmi/chi_square exchange cuts)         |
#   r12   | [0..46] the ENTIRE remaining staleness tail:  | staleness
#         |         the 2 r4 rows (multimodal frame/      | refresh — the
#         |         features) + all 45 r5-era EOD/tick/   | r11 verdict's
#         |         bars/wide rows                        | #1 ask
#         | [47..49] entries whose CODE changed in r12    | re-verify after
#         |         (chi_square identity rewrite,         | rewrite
#         |         asof_join_interp row-carry fix,       |
#         |         topk_churn NULL-key filter)           |
#   r13   | [0..36] ALL 37 r6-era green rows              | staleness
#         |         (rotation_report order): evaluation/  | refresh — the
#         |         stats family, ranges, portfolio,      | r12 verdict's
#         |         sessions, drift                       | #1 ask
#         | [37..49] the 13 OLDEST r7-era green rows      | staleness
#         |         (rotation_report order): resample     | refresh — after
#         |         pair, dedup_cluster_stats,            | r13 no entry is
#         |         sim_market_day, 9 streaming entries   | older than r7
#         | Code changed in r13 (chi_square >=0 clamp,    | value-identical
#         | grid_snap negative-ts floor-div, ann_topk     | on driver data;
#         | guard cost) rides OUTSIDE the window: each    | locally oracle-
#         | change is value-identical on the driver's     | verified + new
#         | non-negative/non-degenerate sf0.01 data and   | property tests
#         | was locally re-verified via check_correctness |
#
# Invariants: names absent from _PRIORITY keep their original relative order
# at the back; names in _PRIORITY but not registered are ignored — the list
# can't silently drop catalog entries.
# ---------------------------------------------------------------------------

_PRIORITY = [
    # --- r13 window: the r12 verdict's #1 ask — retire the r6/r7
    # --- staleness tail. [0..36] = ALL 37 r6-era green rows, in
    # --- rotation_report order:
    "debounce",
    "impact_decay",
    "kaplan_meier",
    "event_ngrams",
    "rank_portfolio",
    "mann_whitney_u",
    "twap",
    "cohens_kappa",
    "interval_union",
    "radius_join",
    "newey_west_tstat",
    "event_study",
    "rrf_fuse",
    "proportion_ztest",
    "cell_stats",
    "transition_entropy",
    "forecast_mase",
    "lateness_stats",
    "column_overlap",
    "streaming_kmv_distinct",
    "weighted_quantile",
    "time_to_convert",
    "seasonal_outliers",
    "simpson_check",
    "feature_auc_screen",
    "self_excitation",
    "ols2_by_group",
    "interval_diff",
    "qq_data",
    "session_paths",
    "adf_stat",
    "effective_sample_size",
    "rate_ratio_test",
    "tail_dependence",
    "centroid_outliers",
    "price_clustering",
    "vocab_gini",
    # --- [37..49] = the 13 OLDEST r7-era green rows (rotation_report
    # --- order); after this window no catalog entry is older than r7:
    "resample_returns",
    "resample_returns_poisson",
    "dedup_cluster_stats",
    "sim_market_day",
    "streaming_time_bars",
    "streaming_dedup_exact",
    "streaming_vwap",
    "streaming_histogram",
    "streaming_interval_join",
    "streaming_session_stats",
    "streaming_running_vwap",
    "streaming_realized_vol",
    "streaming_zscore_alerts",
    # ======== driver window (50) ends here ========
    # --- driver-green blocks keep their original relative order at the
    # back (invariant above); no need to enumerate them here
]


def _with_pin_release(fn):
    """Release the PREVIOUS query's persisted intermediates when the next
    catalog query starts: a full catalog run (the driver executes ~50 queries
    in one session) would otherwise accumulate every dedup/similarity pin in
    executor memory. Pins for the current query are created inside ``fn``
    after the release, so the query's own plan is unaffected."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_pins()
        return fn(spark, sf_dir)

    return wrapped


def _reorder_catalog() -> None:
    pri = [n for n in _PRIORITY if n in QUERY_FNS]
    rest = [n for n in QUERY_FNS if n not in set(pri)]
    order = pri + rest
    reordered_fns = {n: _with_pin_release(QUERY_FNS[n]) for n in order}
    QUERY_FNS.clear()
    QUERY_FNS.update(reordered_fns)
    reordered_sql = {n: ORACLE_SQL[n] for n in order if n in ORACLE_SQL}
    ORACLE_SQL.clear()
    ORACLE_SQL.update(reordered_sql)


_reorder_catalog()
