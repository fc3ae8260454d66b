"""Technical-indicator operators: MACD, RSI, Bollinger bands."""

import numpy as np
import pandas as pd
import pytest

from ffn_polars_spark.plans import count_exchanges, has_join, plan_nodes
from ffn_polars_spark.queries import QUERY_FNS
from tests.conftest import TESTDATA

SF = f"{TESTDATA}/sf0.001"


def test_macd_matches_pandas_ewm(spark):
    from ffn_polars_spark.operators.recursive import macd

    rng = np.random.RandomState(3)
    px = 100.0 + np.cumsum(rng.normal(0, 0.5, 200))
    df = spark.createDataFrame(
        [("A", i, float(p)) for i, p in enumerate(px)], ["k", "i", "p"]
    )
    got = (
        macd(df, "p", "i", by=["k"])
        .orderBy("i")
        .select("macd", "macd_signal", "macd_hist")
        .toPandas()
    )
    s = pd.Series(px)
    ef = s.ewm(span=12, adjust=False).mean()
    es = s.ewm(span=26, adjust=False).mean()
    m = ef - es
    sig = m.ewm(span=9, adjust=False).mean()
    assert np.allclose(got["macd"], m, atol=1e-9)
    assert np.allclose(got["macd_signal"], sig, atol=1e-9)
    assert np.allclose(got["macd_hist"], m - sig, atol=1e-9)


def test_rsi_monotone_and_replay(spark):
    from ffn_polars_spark.operators.recursive import rsi

    # strictly rising series: avg_loss stays 0 -> RSI saturates at 100
    up = spark.createDataFrame(
        [("A", i, 100.0 + i) for i in range(30)], ["k", "i", "p"]
    )
    rows = rsi(up, "p", "i", by=["k"]).orderBy("i").collect()
    assert rows[0].p_rsi is None  # no change yet
    assert all(r.p_rsi == 100.0 for r in rows[1:])

    # flat series: both averages zero -> null
    flat = spark.createDataFrame(
        [("A", i, 50.0) for i in range(10)], ["k", "i", "p"]
    )
    assert all(
        r.p_rsi is None for r in rsi(flat, "p", "i", by=["k"]).collect()
    )

    # numpy replay on a mixed series
    rng = np.random.RandomState(7)
    px = 100.0 + np.cumsum(rng.normal(0, 1.0, 120))
    df = spark.createDataFrame(
        [("A", i, float(p)) for i, p in enumerate(px)], ["k", "i", "p"]
    )
    got = rsi(df, "p", "i", by=["k"], n=14).orderBy("i").collect()
    a, b = 1.0 / 14.0, 1.0 - 1.0 / 14.0
    ag = al = None
    for i in range(1, len(px)):
        d = px[i] - px[i - 1]
        g, l = max(d, 0.0), max(-d, 0.0)
        ag = g if i == 1 else a * g + b * ag
        al = l if i == 1 else a * l + b * al
        want = 100.0 - 100.0 / (1.0 + ag / al) if al > 0 else 100.0
        assert abs(got[i].p_rsi - want) < 1e-9


def test_bollinger_matches_pandas_rolling(spark):
    from ffn_polars_spark import Over
    from ffn_polars_spark.functions.rolling import bollinger

    rng = np.random.RandomState(9)
    px = 100.0 + np.cumsum(rng.normal(0, 0.3, 80))
    df = spark.createDataFrame(
        [("A", i, float(p)) for i, p in enumerate(px)], ["k", "i", "p"]
    )
    out = (
        bollinger(df, "p", over=Over(order_by="i", partition_by="k"),
                  window=20, k=2.0)
        .orderBy("i")
        .toPandas()
    )
    s = pd.Series(px)
    mid = s.rolling(20).mean()
    sd = s.rolling(20).std()
    assert out["bb_mid"][:19].isna().all()
    assert np.allclose(out["bb_mid"][19:], mid[19:], atol=1e-9)
    assert np.allclose(out["bb_up"][19:], (mid + 2 * sd)[19:], atol=1e-9)
    assert np.allclose(out["bb_dn"][19:], (mid - 2 * sd)[19:], atol=1e-9)
    pctb = (s - (mid - 2 * sd)) / ((mid + 2 * sd) - (mid - 2 * sd))
    assert np.allclose(out["bb_pctb"][19:], pctb[19:], atol=1e-9)


def test_bollinger_plan_single_window_no_join(spark):
    df = QUERY_FNS["bollinger"](spark, SF)
    found = [n.name for n in plan_nodes(df)]
    assert not has_join(df)
    assert found.count("WindowExec") == 1
    assert count_exchanges(df) <= 2


def test_intraday_profile_hand_computed(spark):
    from ffn_polars_spark.functions.tick_activity import intraday_profile

    H = 3_600_000_000_000
    # 4 ticks in hour 0, 2 in hour 1; prices 100,102,101,103 | 104,100
    rows = [
        ("A", 0 * H + 1, 100.0, 10.0),
        ("A", 0 * H + 2, 102.0, 20.0),
        ("A", 0 * H + 3, 101.0, 30.0),
        ("A", 0 * H + 4, 103.0, 40.0),
        ("A", 1 * H + 1, 104.0, 50.0),
        ("A", 1 * H + 2, 100.0, 50.0),
    ]
    df = spark.createDataFrame(rows, ["k", "ts_ns", "p", "v"])
    out = {
        r.hour: r
        for r in intraday_profile(
            df, "p", "v", ts_col="ts_ns", by="k", order_by=["ts_ns"]
        ).collect()
    }
    assert out[0].n_trades == 4 and out[1].n_trades == 2
    assert abs(out[0].volume - 100.0) < 1e-9
    assert abs(out[0].volume_share - 0.5) < 1e-9
    assert abs(out[1].volume_share - 0.5) < 1e-9
    # hour 0 returns: 2/100, -1/102, 2/101 ; hour 1: 1/103, -4/104
    import numpy as np

    r0 = np.array([2 / 100, -1 / 102, 2 / 101])
    r1 = np.array([1 / 103, -4 / 104])
    assert abs(out[0].mean_abs_r - np.abs(r0).mean()) < 1e-12
    assert abs(out[1].realized_vol - np.sqrt((r1**2).sum())) < 1e-12


def test_lead_lag_corr_detects_shift(spark):
    import numpy as np

    from ffn_polars_spark.functions.tick_price import lead_lag_corr

    rng = np.random.RandomState(2)
    a = rng.normal(0, 1, 400)
    # b leads a by 2: a_t = b_{t-2}  =>  ccf peaks (=1) at lag k=2
    b = np.empty_like(a)
    b[:-2] = a[2:]
    b[-2:] = rng.normal(0, 1, 2)
    df = spark.createDataFrame(
        [("A", i, float(a[i]), float(b[i])) for i in range(400)],
        ["k", "i", "a", "b"],
    )
    out = {
        r.lag: r
        for r in lead_lag_corr(
            df, "a", "b", order_by="i", by="k", max_lag=3
        ).collect()
    }
    assert abs(out[2].ccf - 1.0) < 1e-9
    assert all(abs(out[k].ccf) < 0.25 for k in out if k != 2)
    assert out[2].n == 398  # two rows lost to the lag window


def test_lead_lag_plan_single_window_no_join(spark):
    df = QUERY_FNS["lead_lag_corr"](spark, SF)
    found = [n.name for n in plan_nodes(df)]
    assert not has_join(df)
    assert found.count("WindowExec") <= 2  # returns + offsets


def test_rolling_sharpe_matches_pandas(spark):
    from ffn_polars_spark import Over

    rng = np.random.RandomState(4)
    rs = rng.normal(0.001, 0.01, 60)
    df = spark.createDataFrame(
        [("A", i, float(r)) for i, r in enumerate(rs)], ["k", "i", "r"]
    )
    import ffn_polars_spark as ffn

    out = (
        df.select(
            "i",
            ffn.eod.rolling_sharpe(
                "r", 20, over=Over(order_by="i", partition_by="k"), n=252
            ),
        )
        .orderBy("i")
        .toPandas()
    )
    s = pd.Series(rs)
    want = np.sqrt(252) * s.rolling(20).mean() / s.rolling(20).std()
    assert out["r_rolling_sharpe"][:19].isna().all()
    assert np.allclose(out["r_rolling_sharpe"][19:], want[19:], atol=1e-9)


def test_topk_per_group_windowgrouplimit_plan(spark):
    from ffn_polars_spark.operators.wide import topk_per_group

    df = spark.createDataFrame(
        [(g, i, float((i * 7) % 13)) for g in "ab" for i in range(40)],
        ["g", "i", "v"],
    )
    out = topk_per_group(df, "g", ["v", "i"], k=3)
    rows = out.collect()
    assert len(rows) == 6
    for g in "ab":
        got = sorted(
            [(r.v, r.i) for r in rows if r.g == g], reverse=True
        )
        want = sorted(
            [(float((i * 7) % 13), i) for i in range(40)], reverse=True
        )[:3]
        assert got == want, g
    # the rank filter must compile to the map-side group limit
    assert "WindowGroupLimitExec" in [n.name for n in plan_nodes(out)]

    # catalog entry too
    dfq = QUERY_FNS["topk_per_group"](spark, SF)
    assert "WindowGroupLimitExec" in [n.name for n in plan_nodes(dfq)]


def test_half_life_ou_recovery(spark):
    import numpy as np

    from ffn_polars_spark.functions.tick_price import half_life

    # simulate AR(1) x_t = rho*x_{t-1} + eps with rho = 0.9
    rng = np.random.RandomState(6)
    x = np.zeros(3000)
    for i in range(1, 3000):
        x[i] = 0.9 * x[i - 1] + rng.normal(0, 0.1)
    df = spark.createDataFrame(
        [("A", i, float(v)) for i, v in enumerate(x)], ["k", "i", "x"]
    )
    row = half_life(df, "x", order_by="i", by="k").collect()[0]
    want_hl = -np.log(2) / np.log(0.9)  # ~6.58
    assert abs(row.rho - 0.9) < 0.05
    assert abs(row.half_life - want_hl) < 1.5
    assert row.n == 2999

    # a pure random walk: rho ~ 1 -> no half-life
    w = np.cumsum(rng.normal(0, 1, 3000))
    dfw = spark.createDataFrame(
        [("A", i, float(v)) for i, v in enumerate(w)], ["k", "i", "x"]
    )
    roww = half_life(dfw, "x", order_by="i", by="k").collect()[0]
    assert roww.half_life is None or roww.half_life > 50


def test_imbalance_bars_hand_computed(spark):
    from ffn_polars_spark.functions.tick_bars import imbalance_bars

    # prices alternate up/up/down...; volumes chosen so bars close at
    # |cum| >= 10: flows +5 +5 (close, cum=10), -3 +4 +9 (close, cum=10),
    # +2 (open tail bar)
    rows = [
        ("A", 1, 100.0, 7.0),   # first tick: sign 0 -> flow 0
        ("A", 2, 101.0, 5.0),   # +5, cum 5
        ("A", 3, 102.0, 5.0),   # +5, cum 10 -> bar 1 closes here
        ("A", 4, 101.0, 3.0),   # -3, bar 2, cum -3
        ("A", 5, 103.0, 4.0),   # +4, cum 1
        ("A", 6, 104.0, 9.0),   # +9, cum 10 -> bar 2 closes here
        ("A", 7, 105.0, 2.0),   # +2, bar 3 (open)
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "p", "v"])
    out = {
        r.bar_id: r
        for r in imbalance_bars(df, "ts", "p", "v", threshold=10.0, by=["k"]).collect()
    }
    assert len(out) == 3
    assert out[1].n_ticks == 3 and out[1].imbalance == 10.0
    assert (out[1].open, out[1].close, out[1].high, out[1].low) == (100.0, 102.0, 102.0, 100.0)
    assert out[1].volume == 17.0
    assert out[2].n_ticks == 3 and out[2].imbalance == 10.0
    assert out[2].bar_start_ts == 4 and out[2].bar_end_ts == 6
    assert out[3].n_ticks == 1 and out[3].imbalance == 2.0
    # flat prints inherit the LAST nonzero sign
    flat = spark.createDataFrame(
        [("A", 1, 100.0, 1.0), ("A", 2, 101.0, 4.0), ("A", 3, 101.0, 6.0)],
        ["k", "ts", "p", "v"],
    )
    f = imbalance_bars(flat, "ts", "p", "v", threshold=10.0, by=["k"]).collect()
    assert len(f) == 1 and f[0].imbalance == 10.0  # +4 then +6 (carried sign)


def test_pairs_spread_recovers_hedge(spark):
    import numpy as np

    from ffn_polars_spark.functions.tick_price import pairs_spread

    rng = np.random.RandomState(12)
    b = 100 + np.cumsum(rng.normal(0, 1, 500))
    eps = rng.normal(0, 0.5, 500)
    a = 3.0 + 2.0 * b + eps  # known alpha/beta + noise
    df = spark.createDataFrame(
        [("A", i, float(a[i]), float(b[i])) for i in range(500)],
        ["k", "i", "a", "b"],
    )
    out = pairs_spread(df, "a", "b", order_by="i", by="k").orderBy("i").collect()
    sp = np.array([r.spread for r in out])
    z = np.array([r.z for r in out])
    # numpy replay of the closed-form OLS residual
    beta = np.cov(a, b, bias=True)[0, 1] / b.var()
    alpha = a.mean() - beta * b.mean()
    want = a - alpha - beta * b
    assert np.allclose(sp, want, atol=1e-9)
    assert abs(beta - 2.0) < 0.01
    assert np.allclose(z, (want - want.mean()) / want.std(ddof=1), atol=1e-9)
    assert abs(z.mean()) < 1e-9 and abs(z.std(ddof=1) - 1) < 1e-9


@pytest.mark.parametrize(
    "rows",
    [
        [(0.0, 1.0), (5.0, 3.0), (5.0, 3.0)],  # spread sd ~1e-16
        [(0.0, 1.0), (5.0, 0.0), (5.0, 0.0)],  # spread sd exactly 0 in numpy
    ],
)
def test_pairs_spread_collinear_legs_null_z(spark, rows):
    """Exactly collinear legs leave a spread of rounding noise: every
    spread is ~0 and z is NULL, not a z-score of the noise."""
    from ffn_polars_spark.functions.tick_price import pairs_spread

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "i long, a double, b double"
    )
    out = pairs_spread(df, "a", "b", order_by="i").collect()
    assert len(out) == len(rows)
    for r in out:
        assert abs(r["spread"]) < 1e-12
        assert r["z"] is None


def test_imbalance_bars_block_scan_matches_sequential_walk(spark):
    """The vectorized prefix-sum boundary scan must reproduce the
    sequential reset walk bar-for-bar on integer-valued flows (where both
    are exact), including many-tiny-bars regimes that force the blocked
    scan to restart constantly."""
    import numpy as np

    from ffn_polars_spark.functions.tick_bars import imbalance_bars

    rng = np.random.default_rng(7)
    rows = []
    for k in ("A", "B"):
        prices = np.round(100 + np.cumsum(rng.integers(-2, 3, 400)) * 0.5, 1)
        vols = rng.integers(1, 30, 400).astype(float)
        rows += [(k, t, float(p), float(v)) for t, (p, v) in enumerate(zip(prices, vols))]
    df = spark.createDataFrame(rows, ["k", "ts", "p", "v"])
    for thr in (5.0, 40.0, 1e9):  # tiny bars, normal bars, one giant bar
        got = {
            (r.k, r.bar_id): r
            for r in imbalance_bars(df, "ts", "p", "v", threshold=thr, by=["k"]).collect()
        }
        # reference: pure sequential walk
        want = {}
        for k in ("A", "B"):
            sub = sorted([r for r in rows if r[0] == k], key=lambda r: r[1])
            prev_p, sgn, cum, bar = None, 0.0, 0.0, 1
            for i, (_, ts, p, v) in enumerate(sub):
                s0 = 0.0 if prev_p is None else float(np.sign(p - prev_p))
                if s0 != 0.0:
                    sgn = s0
                prev_p = p
                flow = sgn * v
                if i == 0:
                    cum = flow
                elif abs(cum) >= thr:
                    bar += 1
                    cum = flow
                else:
                    cum += flow
                ent = want.setdefault((k, bar), {"n": 0, "imb": 0.0})
                ent["n"] += 1
                ent["imb"] += flow
        assert set(got) == set(want)
        for key, ent in want.items():
            assert got[key].n_ticks == ent["n"]
            assert abs(got[key].imbalance - ent["imb"]) < 1e-9
