"""As-of join semantics: backward/forward/nearest, tolerance, equal-ts
inclusion, and np.interp-parity for the linear-interpolation join."""

import numpy as np
import pytest

from ffn_polars_spark.operators.asof import asof_join, interp_asof_join


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [("A", 5), ("A", 15), ("A", 25), ("B", 10)], ["k", "t"]
    )
    right = spark.createDataFrame(
        [("A", 0, 100.0), ("A", 10, 110.0), ("A", 20, 120.0), ("B", 50, 999.0)],
        ["k", "t", "v"],
    )
    return left, right


def _vals(df):
    return {
        (r["k"], r["t"]): r["v"] for r in df.orderBy("k", "t").collect()
    }


def test_backward(spark, frames):
    left, right = frames
    out = _vals(asof_join(left, right, on="t", by="k", strategy="backward"))
    assert out == {("A", 5): 100.0, ("A", 15): 110.0, ("A", 25): 120.0, ("B", 10): None}


def test_backward_equal_ts_included(spark):
    left = spark.createDataFrame([("A", 10)], ["k", "t"])
    right = spark.createDataFrame([("A", 10, 7.0)], ["k", "t", "v"])
    out = _vals(asof_join(left, right, on="t", by="k"))
    assert out == {("A", 10): 7.0}


def test_forward(spark, frames):
    left, right = frames
    out = _vals(asof_join(left, right, on="t", by="k", strategy="forward"))
    assert out == {("A", 5): 110.0, ("A", 15): 120.0, ("A", 25): None, ("B", 10): 999.0}


def test_nearest(spark, frames):
    left, right = frames
    out = _vals(asof_join(left, right, on="t", by="k", strategy="nearest"))
    # A@5: back 0 (d5) vs fwd 10 (d5) -> tie goes backward; A@25 only backward
    assert out == {("A", 5): 100.0, ("A", 15): 110.0, ("A", 25): 120.0, ("B", 10): 999.0}


def test_tolerance(spark, frames):
    left, right = frames
    out = _vals(asof_join(left, right, on="t", by="k", tolerance=4))
    assert out == {("A", 5): None, ("A", 15): None, ("A", 25): None, ("B", 10): None}
    out2 = _vals(asof_join(left, right, on="t", by="k", tolerance=5))
    assert out2[("A", 5)] == 100.0


def test_bad_strategy(spark, frames):
    left, right = frames
    with pytest.raises(ValueError, match="strategy"):
        asof_join(left, right, on="t", by="k", strategy="sideways")


def test_interp_matches_numpy(spark):
    rt = [0, 10, 20, 40]
    rv = [100.0, 110.0, 120.0, 80.0]
    lt = [-5, 0, 5, 12, 20, 33, 40, 99]
    left = spark.createDataFrame([("A", t) for t in lt], ["k", "t"])
    right = spark.createDataFrame(
        [("A", t, v) for t, v in zip(rt, rv)], ["k", "t", "v"]
    )
    out = interp_asof_join(left, right, on="t", value_cols="v", by="k")
    got = {r["t"]: r["v"] for r in out.collect()}
    expected = np.interp(lt, rt, rv)
    for t, e in zip(lt, expected):
        assert got[t] == pytest.approx(float(e), abs=1e-12), t


def test_grid_snap_locf_and_ties(spark):
    from ffn_polars_spark.operators.asof import grid_snap

    rows = [
        ("A", 95, 1.0),
        ("A", 100, 2.0),   # tick exactly ON a grid point -> picked up
        ("A", 130, 3.0),
        ("A", 245, 4.0),
        ("B", 100, 10.0),
        ("B", 310, 11.0),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = {
        (r.k, r.grid_ts): r.v
        for r in grid_snap(df, "ts", "v", step=100, by="k").collect()
    }
    # A spans [95, 245] -> grid {100, 200}; B spans [100, 310] -> {100, 200, 300}
    assert out[("A", 100)] == 2.0       # same-ts tick wins over carry (1.0)
    assert out[("A", 200)] == 3.0
    assert out[("B", 100)] == 10.0
    assert out[("B", 200)] == 10.0 and out[("B", 300)] == 10.0
    assert set(out) == {("A", 100), ("A", 200), ("B", 100), ("B", 200), ("B", 300)}


def test_grid_snap_plan_no_join(spark):
    from ffn_polars_spark.plans import has_join
    from ffn_polars_spark.queries import QUERY_FNS
    from tests.conftest import TESTDATA

    df = QUERY_FNS["grid_snap"](spark, f"{TESTDATA}/sf0.001")
    # union + window fill, not per-point join
    assert not has_join(df)
