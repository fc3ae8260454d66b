"""Tick-operator tests: dual-context (select AND groupBy), hand-recomputed
expectations, and the edge cases the reference pins
(tests/expr/test_tick.py throughout — see SURVEY.md §5).
"""

import math

import pytest
from pyspark.sql import functions as F

import ffn_polars_spark as ffn
from ffn_polars_spark import Over

from conftest import aae, order_as

NS = 1_000_000_000


@pytest.fixture(scope="module")
def tickdf(spark):
    # two tickers, second-scale gaps; AAPL prices include an equal-consecutive
    # pair (tick-rule 0 case) and MSFT has a net-zero signed volume
    rows = [
        ("AAPL", 0 * NS, 100.0, 10, 10.0),
        ("AAPL", 1 * NS, 101.0, 20, 20.0),
        ("AAPL", 3 * NS, 101.0, 30, -30.0),
        ("AAPL", 6 * NS, 99.0, 40, 40.0),
        ("MSFT", 0 * NS, 50.0, 5, 5.0),
        ("MSFT", 2 * NS, 51.0, 5, -5.0),
    ]
    return spark.createDataFrame(
        rows, ["ticker", "timestamp", "price", "volume", "signed_volume"]
    )


def test_trade_rate_grouped(spark, tickdf):
    out = (
        tickdf.groupBy("ticker")
        .agg(ffn.tick.calc_trade_rate("timestamp", per="s"))
        .orderBy("ticker")
        .collect()
    )
    assert out[0]["timestamp_trade_rate"] == pytest.approx(4 / 6)
    assert out[1]["timestamp_trade_rate"] == pytest.approx(2 / 2)


def test_trade_rate_units(spark, tickdf):
    out = (
        tickdf.where(F.col("ticker") == "AAPL")
        .groupBy()
        .agg(ffn.tick.calc_trade_rate("timestamp", per="ms"))
        .collect()
    )
    assert out[0][0] == pytest.approx(4 / 6000)
    with pytest.raises(ValueError, match="Unsupported time unit"):
        ffn.tick.calc_trade_rate("timestamp", per="fortnight")


def test_inter_trade_time(spark, tickdf):
    from ffn_polars_spark.functions.tick_activity import calc_inter_trade_time

    out = (
        calc_inter_trade_time(tickdf, "timestamp", per="s", by=["ticker"])
        .orderBy("ticker")
        .collect()
    )
    # AAPL diffs: 1, 2, 3 -> mean 2; MSFT: 2
    aae(out[0]["timestamp_inter_trade_time"], 2.0, places=9)
    aae(out[1]["timestamp_inter_trade_time"], 2.0, places=9)
    with pytest.raises(ValueError):
        calc_inter_trade_time(tickdf, "timestamp", per="parsec")


def test_burstiness_and_single_diff_null(spark, tickdf):
    from ffn_polars_spark.functions.tick_activity import calc_burstiness

    out = calc_burstiness(tickdf, "timestamp", per="s", by=["ticker"]).orderBy("ticker").collect()
    # AAPL diffs 1,2,3: std_ddof1=1, mean=2 -> 0.5
    aae(out[0]["timestamp_burstiness"], 0.5, places=9)
    # MSFT has one diff -> sample std undefined -> null (reference
    # tests/expr/test_tick.py:342-378)
    assert out[1]["timestamp_burstiness"] is None


def test_volume_rate(spark, tickdf):
    out = (
        tickdf.groupBy("ticker")
        .agg(ffn.tick.calc_volume_rate("volume", "timestamp", per="s"))
        .orderBy("ticker")
        .collect()
    )
    aae(out[0]["volume_volume_rate"], 100 / 6, places=6)
    aae(out[1]["volume_volume_rate"], 10 / 2, places=9)


def test_vwap_traded_value_ofi(spark, tickdf):
    vol = F.col("volume").cast("double")
    out = (
        tickdf.groupBy("ticker")
        .agg(
            ffn.tick.calc_vwap("price", vol.alias("volume")),
            ffn.tick.calc_traded_value("price", vol.alias("volume")),
            ffn.tick.calc_order_flow_imbalance("signed_volume"),
        )
        .orderBy("ticker")
        .collect()
    )
    pv = 100 * 10 + 101 * 20 + 101 * 30 + 99 * 40
    aae(out[0]["price_vwap"], pv / 100, places=9)
    aae(out[0]["price_traded_value"], float(pv), places=9)
    aae(out[0]["signed_volume_order_flow_imbalance"], 40.0, places=9)
    # MSFT net-zero signed volume (reference test_tick.py:261-269)
    aae(out[1]["signed_volume_order_flow_imbalance"], 0.0, places=9)


def test_tick_rule_and_signed_volume(spark, tickdf):
    over = Over(order_by="timestamp", partition_by="ticker")
    out = (
        tickdf.select(
            "ticker",
            "timestamp",
            ffn.tick.tick_rule("price", over=over),
            ffn.tick.apply_tick_rule_to_volume("volume", "price", over=over),
        )
        .orderBy("ticker", "timestamp")
        .collect()
    )
    # AAPL: first 0, up +1, equal 0, down -1
    assert [r["price_direction"] for r in out[:4]] == [0, 1, 0, -1]
    assert out[1]["volume"] == 20.0
    assert out[2]["volume"] == 0.0
    assert out[3]["volume"] == -40.0


def test_tick_imbalance(spark, tickdf):
    over = Over(order_by="timestamp", partition_by="ticker")
    d = tickdf.withColumn("dir", ffn.tick.tick_rule("price", over=over).cast("double"))
    out = d.groupBy("ticker").agg(ffn.tick.calc_tick_imbalance("dir")).orderBy("ticker").collect()
    aae(out[0]["dir_tick_imbalance"], 0.0, places=9)  # (0+1+0-1)/4
    aae(out[1]["dir_tick_imbalance"], 0.5, places=9)  # (0+1)/2


def test_micro_returns_and_realized_vol(spark, tickdf):
    from ffn_polars_spark.functions.tick_price import calc_realized_volatility

    over = Over(order_by="timestamp", partition_by="ticker")
    rows = (
        tickdf.select("ticker", "timestamp", ffn.tick.calc_micro_returns("price", over=over))
        .orderBy("ticker", "timestamp")
        .collect()
    )
    assert rows[0]["price_micro_returns"] is None
    aae(rows[1]["price_micro_returns"], math.log(101 / 100), places=9)

    out = calc_realized_volatility(tickdf, "price", order_by="timestamp", by=["ticker"]).orderBy("ticker").collect()
    expected = math.sqrt(
        math.log(101 / 100) ** 2 + 0.0 + math.log(99 / 101) ** 2
    )
    aae(out[0]["price_realized_volatility"], expected, places=9)
    # lag restarts per group (reference test_tick.py:202-222)
    aae(out[1]["price_realized_volatility"], abs(math.log(51 / 50)), places=9)


def test_price_impact_and_vol_ratio(spark, tickdf):
    vol = F.col("volume").cast("double")
    out = (
        tickdf.groupBy("ticker")
        .agg(
            ffn.tick.calc_price_impact("price", vol.alias("volume"), "timestamp"),
            ffn.tick.calc_price_volatility_ratio("price"),
        )
        .orderBy("ticker")
        .collect()
    )
    aae(out[0]["price_price_impact"], (99.0 - 100.0) / 100.0, places=9)
    import statistics

    aae(
        out[0]["price_price_volatility_ratio"],
        statistics.stdev([100.0, 101.0, 101.0, 99.0]) / statistics.mean([100.0, 101.0, 101.0, 99.0]),
        places=9,
    )


def test_autocorr_alternating_and_iid(spark):
    from ffn_polars_spark.functions.tick_price import autocorr

    # alternating +1/-1 -> lag-1 acf = -1, lag-2 acf = +1
    rows = [("A", i, 1.0 if i % 2 == 0 else -1.0) for i in range(100)]
    df = spark.createDataFrame(rows, ["k", "t", "x"])
    out = {r.lag: r for r in autocorr(df, "x", by="k", order_by="t", max_lag=2).collect()}
    assert out[1].acf == -1.0
    assert out[2].acf == 1.0
    assert out[1].n == 99 and out[2].n == 98

    # constant series: zero variance -> NULL, not an ANSI error
    const = spark.createDataFrame([("A", i, 5.0) for i in range(10)], ["k", "t", "x"])
    out2 = autocorr(const, "x", by="k", order_by="t", max_lag=1).collect()
    assert out2[0].acf is None


def test_amihud_illiquidity_hand_computed(spark):
    from ffn_polars_spark.functions.tick_price import amihud_illiquidity

    rows = [
        ("A", 1, 100.0, 1.0),
        ("A", 2, 110.0, 2.0),
        ("A", 3, 99.0, 4.0),
        ("B", 1, 50.0, 0.0),   # zero volume -> contributes nothing
        ("B", 2, 55.0, 0.0),
    ]
    df = spark.createDataFrame(rows, ["k", "i", "p", "v"])
    out = {
        r.k: r
        for r in amihud_illiquidity(
            df, "p", "v", by="k", order_by="i"
        ).collect()
    }
    # |0.1|/220 and |-0.1|/396, averaged, x1e6
    want = (0.1 / 220.0 + 0.1 / 396.0) / 2.0 * 1e6
    assert abs(out["A"].amihud - want) < 1e-9
    assert out["A"].n_obs == 2
    # all observations null -> avg NULL, count 0
    assert out["B"].amihud is None and out["B"].n_obs == 0


def test_roll_spread_hand_computed(spark):
    import numpy as np

    from ffn_polars_spark.functions.tick_price import roll_spread

    # classic bounce: trades alternate across the spread
    prices = [100.0, 101.0, 100.0, 101.0, 100.0, 101.0]
    rows = [("A", i, p) for i, p in enumerate(prices)]
    df = spark.createDataFrame(rows, ["k", "i", "p"])
    out = roll_spread(df, "p", by="k", order_by="i").collect()[0]
    dp = np.diff(prices)
    cov = float(np.cov(dp[1:], dp[:-1], ddof=1)[0, 1])
    assert abs(out.serial_cov - cov) < 1e-12
    assert abs(out.roll_spread - 2.0 * (-cov) ** 0.5) < 1e-12
    assert out.n_obs == 4

    # monotone prices: positive serial covariance -> NULL spread
    up = spark.createDataFrame(
        [("A", i, 100.0 + i * i) for i in range(6)], ["k", "i", "p"]
    )
    r = roll_spread(up, "p", by="k", order_by="i").collect()[0]
    assert r.roll_spread is None and r.serial_cov > 0


def test_kyle_lambda_hand_computed(spark):
    import numpy as np

    from ffn_polars_spark.functions.tick_price import kyle_lambda

    prices = [100.0, 101.0, 100.5, 102.0, 101.0]
    vols = [10.0, 20.0, 15.0, 30.0, 25.0]
    rows = [("A", i, p, v) for i, (p, v) in enumerate(zip(prices, vols))]
    df = spark.createDataFrame(rows, ["k", "i", "p", "v"])
    out = kyle_lambda(df, "p", "v", by="k", order_by="i").collect()[0]

    p = np.array(prices)
    dp = np.concatenate([[np.nan], np.diff(p)])
    sign = np.concatenate([[0.0], np.sign(np.diff(p))])
    sv = sign * np.array(vols)
    # var over ALL rows (sv defined everywhere); cov over non-nan dp pairs
    varv = float(np.var(sv, ddof=1))
    m = ~np.isnan(dp)
    cov = float(np.cov(dp[m], sv[m], ddof=1)[0, 1])
    assert abs(out.kyle_lambda - cov / varv) < 1e-12
    assert out.n_obs == 4
    # impact is positive: price moves with net signed flow
    assert out.kyle_lambda > 0 and 0 < out.r2 <= 1


def test_twap_interval_weighting(spark):
    from ffn_polars_spark.functions.tick_price import twap

    # price 10 live for 3s, price 20 live for 1s, last tick excluded
    rows = [("A", 0, 10.0), ("A", 3, 20.0), ("A", 4, 99.0)]
    r = twap(
        spark.createDataFrame(rows, ["tk", "ts", "p"]), "p", ts_col="ts", by="tk"
    ).collect()[0]
    assert r["n_intervals"] == 2
    assert r["total_time"] == 4.0
    assert abs(r["twap"] - (10.0 * 3 + 20.0 * 1) / 4) < 1e-12


def test_twap_vs_vwap_burst_immunity(spark):
    from ffn_polars_spark.functions.tick_price import twap

    # a burst of same-priced ticks in one instant moves VWAP-by-count
    # but not TWAP: the burst's intervals are zero-length
    rows = [("A", 0, 10.0)] + [("A", 10, 50.0), ("A", 10, 50.0), ("A", 10, 50.0)] + [
        ("A", 20, 10.0)
    ]
    df = spark.createDataFrame(rows, ["tk", "ts", "p"]).withColumn(
        "tb", F.monotonically_increasing_id()
    )
    r = twap(df, "p", ts_col="ts", by="tk", tiebreak="tb").collect()[0]
    # 10 live [0,10), 50 live [10,20): twap = 30
    assert abs(r["twap"] - 30.0) < 1e-12
    assert r["total_time"] == 20.0


def test_self_excitation_bursty_vs_regular(spark):
    from ffn_polars_spark.functions.tick_activity import self_excitation

    # regular: gaps all 10s with tau=1s -> frac_observed 0, ratio 0
    reg = [("R", float(i * 10_000_000_000)) for i in range(10)]
    # bursty: pairs 0.1s apart every 20s -> half the gaps are short
    bur = []
    for i in range(5):
        t0 = i * 20_000_000_000
        bur += [("B", float(t0)), ("B", float(t0 + 100_000_000))]
    df = spark.createDataFrame(reg + bur, ["tk", "ts"])
    out = {r["tk"]: r for r in self_excitation(
        df, ts_col="ts", by="tk", tau=1_000_000_000.0
    ).collect()}
    assert out["R"]["frac_observed"] == 0.0
    assert out["R"]["excitation_ratio"] == 0.0
    # bursty: 5 within-pair gaps of 9 are < 1s; Poisson expectation is
    # tiny at this rate -> ratio >> 1
    assert abs(out["B"]["frac_observed"] - 5 / 9) < 1e-12
    assert out["B"]["excitation_ratio"] > 3.0


def test_adf_stat_random_walk_vs_reverting(spark):
    from ffn_polars_spark.functions.tick_price import adf_stat

    # strongly mean-reverting alternation: beta near -2, large |t|
    rows = [("M", i, 1.0 if i % 2 == 0 else -1.0) for i in range(50)]
    r = adf_stat(
        spark.createDataFrame(rows, ["tk", "ts", "x"]), "x",
        order_by="ts", by="tk",
    ).collect()[0]
    assert abs(r["beta"] + 2.0) < 1e-12
    # perfect fit: SSR = 0 -> se2 = 0 -> t NULL (degenerate, documented)
    assert r["t_stat"] is None

    # a noisy reverting series has finite negative t
    import math
    rows2 = [
        ("N", i, math.sin(i * 1.7) + (0.1 if i % 3 == 0 else -0.05))
        for i in range(60)
    ]
    r2 = adf_stat(
        spark.createDataFrame(rows2, ["tk", "ts", "x"]), "x",
        order_by="ts", by="tk",
    ).collect()[0]
    assert r2["beta"] < 0 and r2["t_stat"] < -2.0


def test_price_clustering_planted_round_numbers(spark):
    from ffn_polars_spark.functions.tick_price import price_clustering

    # 90 prices on a round cent (digit 0) + one price at each of
    # 100.01..100.10 — the last of which is digit 0 again, so 91 total
    rows = [("A", 100.10)] * 90 + [("A", 100.01 + 0.01 * d) for d in range(10)]
    out = {r["digit"]: r for r in price_clustering(
        spark.createDataFrame(rows, ["tk", "p"]), "p", by="tk"
    ).collect()}
    assert out[0]["n"] == 91
    assert abs(out[0]["freq"] - 0.91) < 1e-12
    assert out[0]["chi2_term"] > 50  # massive clustering signal
    assert abs(sum(r["freq"] for r in out.values()) - 1.0) < 1e-12


def test_blocked_keyed_lag_matches_window_lag(spark):
    """blocked_keyed_lag must be VALUE-IDENTICAL to F.lag over
    (PARTITION BY key ORDER BY ts): cross-slice seams patched from the
    previous slice's last row, genuine NULL values never re-patched, keys
    confined to one slice unaffected."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ffn_polars_spark.core import blocked_keyed_lag

    random.seed(11)
    rows = []
    for k in ("a", "b", "c"):
        for t in range(500):
            # sprinkle genuine NULLs into the value column
            v = None if (t % 97 == 3) else float(t) + random.random()
            rows.append((k, t, v))
    df = spark.createDataFrame(rows, "k string, ts long, v double")

    w = Window.partitionBy("k").orderBy("ts")
    want = {
        (r["k"], r["ts"]): r["lv"]
        for r in df.select("k", "ts", F.lag("v", 1).over(w).alias("lv")).collect()
    }
    # num_blocks > 1 forces cross-slice seams on this small frame
    got = {
        (r["k"], r["ts"]): r["lv"]
        for r in blocked_keyed_lag(df, ["k"], ["ts"], {"lv": "v"}, num_blocks=8)
        .select("k", "ts", "lv")
        .collect()
    }
    assert got == want


def test_blocked_keyed_lag_multiple_columns(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ffn_polars_spark.core import blocked_keyed_lag

    df = spark.createDataFrame(
        [("x", t, float(t), t * 10) for t in range(200)],
        "k string, ts long, a double, b long",
    )
    w = Window.partitionBy("k").orderBy("ts")
    want = df.select(
        "ts", F.lag("a").over(w).alias("la"), F.lag("b").over(w).alias("lb")
    ).collect()
    got = (
        blocked_keyed_lag(df, ["k"], ["ts"], {"la": "a", "lb": "b"}, num_blocks=6)
        .select("ts", "la", "lb")
        .collect()
    )
    assert sorted(want) == sorted(got)


def _rv_tape(spark):
    import random

    random.seed(5)
    rows = [
        (k, t, 100.0 + random.gauss(0, 2))
        for k in ("p", "q", "r")
        for t in range(2000)
    ]
    return spark.createDataFrame(rows, "event_type string, ts_ns long, price double")


def test_realized_volatility_blocked_matches_window(spark):
    """The forced-blocked plan agrees with the plain window plan to
    double-rounding tolerance (association order differs; values don't)."""
    _assert_rv_blocked_matches_window(_rv_tape(spark))


@pytest.mark.parametrize("kind", ["timestamp", "date"])
def test_realized_volatility_blocked_matches_window_on_calendar_orders(
    spark, kind
):
    """Timestamp and date orders are sliced by their exact integer
    encodings, as integer orders are."""
    _assert_rv_blocked_matches_window(order_as(_rv_tape(spark), "ts_ns", kind))


def _assert_rv_blocked_matches_window(df):
    from ffn_polars_spark.functions.tick_price import calc_realized_volatility

    a = {
        r["event_type"]: r["price_realized_volatility"]
        for r in calc_realized_volatility(
            df, "price", order_by="ts_ns", by=["event_type"], seq_parallelism="window"
        ).collect()
    }
    b = {
        r["event_type"]: r["price_realized_volatility"]
        for r in calc_realized_volatility(
            df, "price", order_by="ts_ns", by=["event_type"], seq_parallelism="blocked"
        ).collect()
    }
    assert set(a) == set(b)
    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-12), (k, a[k], b[k])


def test_blocked_keyed_cumsum_row_count_matches_row_number(spark):
    """A per-key row number is the blocked running sum of 1."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ffn_polars_spark.core import blocked_keyed_cumsum

    rows = [(k, t * 3 + hash(k) % 3) for k in ("a", "b", "c") for t in range(400)]
    df = spark.createDataFrame(rows, "k string, ts long")
    w = Window.partitionBy("k").orderBy("ts")
    want = {
        (r["k"], r["ts"]): r["rn"]
        for r in df.select("k", "ts", F.row_number().over(w).alias("rn")).collect()
    }
    got = {
        (r["k"], r["ts"]): r["gidx"]
        for r in blocked_keyed_cumsum(
            df, ["k"], ["ts"], {"gidx": F.lit(1)}, num_blocks=7
        ).collect()
    }
    assert got == want


def test_autocorr_blocked_matches_window(spark):
    """The blocked (index + self-join) autocorrelation plan must reproduce
    the window plan's full output frame — including NULL values excluded
    from n, short groups completing with n=0/acf NULL, and r6-rounded acf
    equality."""
    _assert_autocorr_blocked_matches_window(_autocorr_tape(spark))


@pytest.mark.parametrize("kind", ["timestamp", "date"])
def test_autocorr_blocked_matches_window_on_calendar_orders(spark, kind):
    """The blocked index of a timestamp or date order numbers every row
    as the window does: no lag pair is lost or invented. The tape is
    large enough that a sampled range partitioning varies between the
    index's two branches."""
    _assert_autocorr_blocked_matches_window(
        order_as(_autocorr_tape(spark, 5000), "ts", kind)
    )


def _autocorr_tape(spark, n=600):
    import random

    random.seed(3)
    rows = []
    for k in ("a", "b"):
        prev = 0.0
        for t in range(n):
            prev = 0.6 * prev + random.gauss(0, 1)
            v = None if t % 53 == 7 else prev
            rows.append((k, t, v))
    rows.append(("tiny", 0, 1.0))  # group shorter than max_lag
    rows.append(("tiny", 1, 2.0))
    return spark.createDataFrame(rows, "k string, ts long, x double")


def _assert_autocorr_blocked_matches_window(df):
    from ffn_polars_spark.functions.tick_price import autocorr

    def as_map(res):
        return {
            (r["k"], r["lag"]): (r["n"], r["acf"]) for r in res.collect()
        }

    w = as_map(autocorr(df, "x", by="k", order_by="ts", max_lag=3,
                        seq_parallelism="window"))
    b = as_map(autocorr(df, "x", by="k", order_by="ts", max_lag=3,
                        seq_parallelism="blocked"))
    assert set(w) == set(b)
    for key in w:
        assert w[key][0] == b[key][0], (key, w[key], b[key])  # n exact
        if w[key][1] is None:
            assert b[key][1] is None, key
        else:
            assert abs(w[key][1] - b[key][1]) <= 1e-6, (key, w[key], b[key])


def test_blocked_keyed_cumsum_matches_window(spark):
    """Running-sum parity vs the w_cum window, including NEGATIVE addends
    (the slice total must be the last row's running value, not the max)
    and long-typed exactness."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ffn_polars_spark.core import blocked_keyed_cumsum

    random.seed(9)
    rows = [
        (k, t, float(random.randint(-50, 100)), random.randint(-5, 10))
        for k in ("a", "b", "c")
        for t in range(400)
    ]
    df = spark.createDataFrame(rows, "k string, ts long, v double, n long")
    w = (
        Window.partitionBy("k")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        (r["k"], r["ts"]): (r["cv"], r["cn"])
        for r in df.select(
            "k", "ts", F.sum("v").over(w).alias("cv"), F.sum("n").over(w).alias("cn")
        ).collect()
    }
    got = {
        (r["k"], r["ts"]): (r["cv"], r["cn"])
        for r in blocked_keyed_cumsum(
            df, ["k"], ["ts"], {"cv": "v", "cn": "n"}, num_blocks=8
        ).collect()
    }
    assert set(got) == set(want)
    for key in want:
        assert got[key][1] == want[key][1], key            # long: exact
        assert abs(got[key][0] - want[key][0]) < 1e-9, key  # double: ulp-tight


def test_sparse_and_zero_volume_groups_null_not_ansi_crash(spark):
    """r13 ANSI zero-div audit, third sweep: single-event groups (zero
    span) and zero-volume groups are the COMMON sparse-key case at scale
    and must yield NULL, not a DIVIDE_BY_ZERO crash."""
    import ffn_polars_spark as ffn
    from ffn_polars_spark.functions.tick_bars import idle_time, time_bars

    one = spark.createDataFrame([(100, 1.0, 0.0)], ["ts_ns", "p", "v"])
    row = one.agg(
        ffn.tick.calc_trade_rate("ts_ns").alias("tr"),
        ffn.tick.calc_volume_rate("v", "ts_ns").alias("vr"),
        ffn.tick.calc_vwap("p", "v").alias("vw"),
        ffn.tick.calc_price_impact("p", "v", "ts_ns").alias("pi"),
    ).collect()[0]
    assert row["tr"] is None and row["vr"] is None
    assert row["vw"] is None and row["pi"] is None

    # zero-volume bar: vwap NULL, volume 0 — bar still emitted
    zv = spark.createDataFrame(
        [(1_000_000_000, 10.0, 0.0), (2_000_000_000, 11.0, 0.0)],
        ["ts_ns", "price", "volume"],
    )
    bars = time_bars(zv, ts="ts_ns", price="price", volume="volume",
                     bar_ns=60_000_000_000).collect()
    assert len(bars) == 1 and bars[0]["vwap"] is None and bars[0]["volume"] == 0.0

    # single-event key: idle_frac NULL (zero span)
    idle = idle_time(one, ts="ts_ns", threshold_ns=10).collect()[0]
    assert idle["idle_frac"] is None and idle["n_idle_gaps"] == 0
