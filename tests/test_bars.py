"""Bar construction + bar-based estimators (reference roadmap README.md:40-64;
empty stubs expr/tick/bars.py / latency.py). Expectations recomputed by hand
in straight Python, the reference's own test style (SURVEY.md §5-2)."""

import math

import pytest
from pyspark.sql import functions as F

from ffn_polars_spark.functions.tick_bars import (
    detect_bursts,
    dollar_bars,
    garman_klass_volatility,
    idle_time,
    parkinson_volatility,
    quote_to_trade_ratio,
    tick_bars,
    time_bars,
    volume_bars,
    volume_profile,
)

SEC = 1_000_000_000


@pytest.fixture(scope="module")
def tape(spark):
    # 8 ticks, one ticker, 30s apart -> two 2-minute bars of 4 ticks each.
    rows = [
        ("A", i * 30 * SEC, p, v)
        for i, (p, v) in enumerate(
            [(10.0, 1.0), (12.0, 2.0), (9.0, 1.0), (11.0, 4.0),
             (20.0, 2.0), (25.0, 1.0), (18.0, 2.0), (22.0, 1.0)]
        )
    ]
    return spark.createDataFrame(rows, ["ticker", "ts", "price", "volume"]).cache()


def test_time_bars_ohlcv(tape):
    out = {
        r["bar_ts"]: r
        for r in time_bars(
            tape, "ts", "price", "volume", by=["ticker"], bar_ns=120 * SEC
        ).collect()
    }
    assert set(out) == {0, 120 * SEC}
    b0 = out[0]
    assert (b0["open"], b0["high"], b0["low"], b0["close"]) == (10.0, 12.0, 9.0, 11.0)
    assert b0["n_ticks"] == 4 and b0["volume"] == 8.0
    assert abs(b0["vwap"] - (10 + 24 + 9 + 44) / 8.0) < 1e-12
    b1 = out[120 * SEC]
    assert (b1["open"], b1["high"], b1["low"], b1["close"]) == (20.0, 25.0, 18.0, 22.0)


def test_tick_bars(tape):
    out = {
        r["bar_id"]: r
        for r in tick_bars(
            tape, "ts", "price", "volume", by=["ticker"], ticks_per_bar=3
        ).collect()
    }
    assert set(out) == {0, 1, 2}
    assert out[0]["n_ticks"] == 3 and out[2]["n_ticks"] == 2
    assert out[0]["open"] == 10.0 and out[0]["close"] == 9.0
    assert out[2]["open"] == 18.0 and out[2]["close"] == 22.0


def test_volume_bars(tape):
    # cumvol: 1 3 4 8 10 11 13 14; open-bar key with threshold 5:
    # floor(prev_cum/5) -> 0 0 0 0 1 2 2 2
    out = {
        r["bar_id"]: r
        for r in volume_bars(
            tape, "ts", "price", "volume", by=["ticker"], volume_per_bar=5.0
        ).collect()
    }
    assert set(out) == {0, 1, 2}
    assert out[0]["volume"] == 8.0 and out[1]["volume"] == 2.0 and out[2]["volume"] == 4.0


def test_dollar_bars(tape):
    out = dollar_bars(
        tape, "ts", "price", "volume", by=["ticker"], dollars_per_bar=60.0
    ).collect()
    total = sum(r["volume"] for r in out)
    assert total == 14.0
    assert all(r["open"] > 0 for r in out)


def test_parkinson_and_garman_klass(spark, tape):
    bars = time_bars(tape, "ts", "price", "volume", by=["ticker"], bar_ns=120 * SEC)
    row = bars.groupBy("ticker").agg(
        parkinson_volatility("high", "low").alias("pk"),
        garman_klass_volatility("open", "high", "low", "close").alias("gk"),
    ).collect()[0]
    hls = [(12.0, 9.0, 10.0, 11.0), (25.0, 18.0, 20.0, 22.0)]
    pk = math.sqrt(
        sum(math.log(h / l) ** 2 for h, l, _, _ in hls) / 2 / (4 * math.log(2))
    )
    gk = math.sqrt(
        sum(
            0.5 * math.log(h / l) ** 2
            - (2 * math.log(2) - 1) * math.log(c / o) ** 2
            for h, l, o, c in hls
        )
        / 2
    )
    assert abs(row["pk"] - pk) < 1e-12
    assert abs(row["gk"] - gk) < 1e-12


def test_quote_to_trade_ratio(spark):
    q = spark.createDataFrame(
        [("A", i * SEC) for i in range(10)] + [("B", i * SEC) for i in range(4)],
        ["ticker", "ts"],
    )
    t = spark.createDataFrame(
        [("A", i * SEC) for i in range(2)] + [("C", 0)], ["ticker", "ts"]
    )
    out = {
        r["ticker"]: r
        for r in quote_to_trade_ratio(q, t, "ts", by=["ticker"]).collect()
    }
    assert out["A"]["quote_to_trade_ratio"] == 5.0
    assert out["B"]["n_trades"] == 0 and out["B"]["quote_to_trade_ratio"] is None
    assert out["C"]["n_quotes"] == 0


def test_idle_time(spark):
    # gaps: 1s, 10s, 1s, 30s; threshold 5s -> idle = 40s of 42s span
    ts = [0, 1, 11, 12, 42]
    df = spark.createDataFrame([("A", t * SEC) for t in ts], ["ticker", "ts"])
    row = idle_time(df, "ts", by=["ticker"], threshold_ns=5 * SEC).collect()[0]
    assert row["n_idle_gaps"] == 2
    assert abs(row["idle_frac"] - 40.0 / 42.0) < 1e-12


def test_detect_bursts(spark):
    rows = []
    tick = 0
    for minute in range(40):
        n = 200 if minute == 35 else 10
        for i in range(n):
            rows.append(("A", minute * 60 * SEC + i * 1000, ))
            tick += 1
    df = spark.createDataFrame(rows, ["ticker", "ts"])
    out = detect_bursts(df, "ts", by=["ticker"], bar_ns=60 * SEC, z_threshold=3.0)
    flagged = [r["bar_ts"] // (60 * SEC) for r in out.collect() if r["is_burst"]]
    assert flagged == [35]


def test_volume_profile(tape):
    out = {
        r["price_bin"]: r
        for r in volume_profile(
            tape, "price", "volume", by=["ticker"], bin_width=10.0
        ).collect()
    }
    assert out[0.0]["volume"] == 1.0  # price 9 -> bin 0
    assert out[10.0]["volume"] == 9.0  # 10,12,11,18 -> 1+2+4+2
    assert out[20.0]["volume"] == 4.0  # 20,25,22 -> 2+1+1
    assert abs(sum(r["volume_share"] for r in out.values()) - 1.0) < 1e-12


def test_rollup_bars_matches_direct(spark):
    """Rolling hourly bars up to daily must equal barring the ticks daily
    directly (OHLC/counts exactly; volume/vwap to float tolerance)."""
    import random

    from ffn_polars_spark.functions.tick_bars import rollup_bars, time_bars

    HOUR = 3600 * 1_000_000_000
    rng = random.Random(7)
    rows = [
        (tkr, (d * 24 + h) * HOUR + s * SEC, 100.0 + rng.random() * 10, float(rng.randint(1, 9)))
        for tkr in ("A", "B")
        for d in range(3)
        for h in range(0, 24, 5)
        for s in (3, 1200, 3599)
    ]
    tick_df = spark.createDataFrame(rows, ["ticker", "ts", "price", "volume"])
    hourly = time_bars(tick_df, "ts", "price", "volume", by=["ticker"], bar_ns=HOUR)
    rolled = {
        (r["ticker"], r["bar_ts"]): r
        for r in rollup_bars(hourly, 24 * HOUR, by=["ticker"]).collect()
    }
    direct = {
        (r["ticker"], r["bar_ts"]): r
        for r in time_bars(
            tick_df, "ts", "price", "volume", by=["ticker"], bar_ns=24 * HOUR
        ).collect()
    }
    assert set(rolled) == set(direct)
    for k in direct:
        for c in ("open", "high", "low", "close", "n_ticks", "bar_start_ts", "bar_end_ts"):
            assert rolled[k][c] == direct[k][c], (k, c)
        assert rolled[k]["volume"] == pytest.approx(direct[k]["volume"], rel=1e-12)
        assert rolled[k]["vwap"] == pytest.approx(direct[k]["vwap"], rel=1e-9)


def test_vpin_hand_computed_buckets(spark):
    from ffn_polars_spark.functions.tick_bars import vpin

    # volumes of 30 -> buckets of 60: [t0,t1] and [t2,t3]; directions:
    # t1 up (+30), t2 up (+30), t3 down (-30); t0 first (0)
    rows = [
        ("A", 0, 100.0, 30.0),
        ("A", 1, 101.0, 30.0),
        ("A", 2, 102.0, 30.0),
        ("A", 3, 101.0, 30.0),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "p", "v"])
    out = vpin(df, "ts", "p", "v", by=["k"], volume_per_bucket=60.0).collect()[0]
    # bucket0 imbalance |0 + 30|/60 = 0.5; bucket1 |30 - 30|/60 = 0.0
    assert abs(out.vpin - 0.25) < 1e-12
    assert out.n_buckets == 2 and out.total_volume == 120.0


def test_corwin_schultz_zero_spread_and_positive(spark):
    import math

    from ffn_polars_spark.functions.tick_bars import corwin_schultz

    # identical consecutive bars with H == L: beta = gamma = 0 -> alpha 0
    # -> spread 0 (and the pairless last bar contributes nothing)
    flat = spark.createDataFrame(
        [("A", 0, 100.0, 100.0), ("A", 1, 100.0, 100.0)],
        ["k", "bar_ts", "high", "low"],
    )
    r = corwin_schultz(flat, by=["k"]).collect()[0]
    assert r.cs_spread == 0.0 and r.n_pairs == 1

    # hand-computed single pair
    h1, l1, h2, l2 = 102.0, 100.0, 103.0, 101.0
    df = spark.createDataFrame(
        [("A", 0, h1, l1), ("A", 1, h2, l2)], ["k", "bar_ts", "high", "low"]
    )
    beta = math.log(h1 / l1) ** 2 + math.log(h2 / l2) ** 2
    gamma = math.log(max(h1, h2) / min(l1, l2)) ** 2
    k = 3 - 2 * math.sqrt(2)
    alpha = (math.sqrt(2 * beta) - math.sqrt(beta)) / k - math.sqrt(gamma / k)
    want = max(2 * (math.exp(alpha) - 1) / (1 + math.exp(alpha)), 0.0)
    got = corwin_schultz(df, by=["k"]).collect()[0]
    assert abs(got.cs_spread - want) < 1e-12 and got.n_pairs == 1


def test_tick_bars_blocked_matches_window(spark):
    """Forced-blocked tick bars equal the window plan exactly (row numbers
    are integers — no association tolerance needed)."""
    from ffn_polars_spark.functions.tick_bars import tick_bars

    rows = [(k, t, 100.0 + (t % 7), float(t % 5 + 1))
            for k in ("a", "b") for t in range(500)]
    df = spark.createDataFrame(rows, "k string, ts long, price double, volume double")
    w = sorted(tick_bars(df, "ts", "price", "volume", by=["k"], ticks_per_bar=64,
                         seq_parallelism="window").collect())
    b = sorted(tick_bars(df, "ts", "price", "volume", by=["k"], ticks_per_bar=64,
                         seq_parallelism="blocked").collect())
    assert w == b


@pytest.mark.parametrize("kind", ["long", "timestamp", "date"])
@pytest.mark.parametrize(
    "bars, kw",
    [(tick_bars, {"ticks_per_bar": 100}), (volume_bars, {"volume_per_bar": 1000.0})],
    ids=["tick_bars", "volume_bars"],
)
def test_tick_and_volume_bars_blocked_match_window(spark, bars, kw, kind):
    """Forced-blocked tick and volume bars equal the window plan exactly
    on integer, timestamp and date orders. Volumes are small integers, so
    every running total is exact in any association."""
    from conftest import order_as

    rows = [(k, t, 100.0 + (t * 37) % 101, float((t * 13) % 50 + 1))
            for k in ("a", "b") for t in range(2000)]
    df = order_as(
        spark.createDataFrame(rows, "k string, ts long, price double, volume double"),
        "ts",
        kind,
    )
    w, b = (
        sorted(bars(df, "ts", "price", "volume", by=["k"],
                    seq_parallelism=plan, **kw).collect())
        for plan in ("window", "blocked")
    )
    assert w == b
