"""Spark Connect smoke suite.

SURVEY §1.5's registry design claim: no Column monkey-patching, no JVM
private APIs in the expression layer — so the namespace dispatch
(``ffn.eod`` / ``ffn.tick``) and the plain-DataFrame operators should work
unchanged through a Spark Connect session, where ``Column`` is a protobuf
proxy and ``df._jdf`` does not exist. Nothing had validated that claim;
this module does, one representative op per family.

Runs only where the Connect client stack is available (grpcio +
pyspark.sql.connect — absent in the build container, present on any
``pip install pyspark[connect]`` deployment): every test skips cleanly
otherwise, so the suite is a deployment-environment gate, not a CI one.

Known NON-Connect surfaces, deliberately not smoked here: the _scanmeta
footer helpers and plan gates read ``df._jdf.queryExecution()`` (classic
only — they already degrade to None/job-based fallbacks). The cluster's
slot count is read in two places only: the spread guard
(``_scanmeta.spread_scan``, used by the dedup, text and similarity
families) passes through under Connect, and ``core._default_block_count``
(the blocked-sequence family, ``use_blocked_sequence_plan`` and the
resample spreads) falls back to the shuffle-partition conf, tolerant of
non-numeric values like "auto". One representative op per family is
smoked below. The operators below exercise the pure DataFrame/Column
path.
"""

from __future__ import annotations

import pytest


def _connect_available() -> bool:
    try:
        import grpc  # noqa: F401
        import pyspark.sql.connect.session  # noqa: F401

        return True
    except Exception:
        return False


pytestmark = pytest.mark.skipif(
    not _connect_available(),
    reason="Spark Connect client stack (grpcio) not installed",
)


@pytest.fixture(scope="module")
def cspark():
    """A Connect session against an in-process local server.

    ``remote("local")`` starts a local Connect server bound to this JVM —
    the standard single-box smoke configuration."""
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.remote("local")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


def _prices(cspark):
    rows = [(i, 100.0 + i + (i % 3)) for i in range(20)]
    return cspark.createDataFrame(rows, ["i", "p"])


def test_eod_namespace_expression(cspark):
    """Expression-kind op through the registry namespace: to_returns is a
    window expression built from public Column APIs only."""
    import ffn_polars_spark as ffn
    from ffn_polars_spark import Over

    df = _prices(cspark)
    out = df.select(
        "i", ffn.eod.to_returns("p", over=Over(order_by="i")).alias("r")
    ).collect()
    assert len(out) == 20
    assert out[0]["r"] is None and out[1]["r"] is not None


def test_eod_dataframe_op(cspark):
    """DataFrame-kind op: calc_max_drawdown aggregates via public APIs."""
    from ffn_polars_spark.functions.eod_risk import calc_max_drawdown

    got = calc_max_drawdown(_prices(cspark), "p", order_by="i").collect()
    assert len(got) == 1 and got[0][0] <= 0.0


def test_tick_aggregate(cspark):
    import ffn_polars_spark as ffn

    df = cspark.createDataFrame(
        [("A", 10.0, 2.0), ("A", 12.0, 1.0), ("B", 5.0, 4.0)],
        ["k", "p", "v"],
    )
    out = {
        r["k"]: r["p_vwap"]
        for r in df.groupBy("k").agg(ffn.tick.calc_vwap("p", "v")).collect()
    }
    assert out["A"] == pytest.approx((10 * 2 + 12 * 1) / 3)


def test_dedup_exact_family(cspark):
    """Pipeline family representative: dedup_exact is groupBy/window over
    md5 — no kernels, no JVM internals."""
    from ffn_polars_spark.operators.dedup import dedup_exact
    from ffn_polars_spark.pins import release_pins

    df = cspark.createDataFrame(
        [(0, "hello world"), (1, "HELLO   world"), (2, "other")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["is_duplicate"] for r in dedup_exact(df).collect()}
    release_pins()
    assert out == {0: False, 1: True, 2: False}


def test_asof_join_family(cspark):
    from ffn_polars_spark.operators.asof import asof_join

    left = cspark.createDataFrame([("a", 5), ("a", 15)], "k string, ts long")
    right = cspark.createDataFrame(
        [("a", 3, 1.0), ("a", 10, 2.0)], "k string, ts long, v double"
    )
    got = {
        r["ts"]: r["v"]
        for r in asof_join(left, right, on="ts", by="k").collect()
    }
    assert got == {5: 1.0, 15: 2.0}


def test_arrow_kernel_family(cspark):
    """pandas_udf kernels (the minhash path) execute through Connect's
    Arrow channel; asNondeterministic is part of the public UDF API."""
    from ffn_polars_spark.operators.dedup import dedup_minhash_lsh
    from ffn_polars_spark.pins import release_pins

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = cspark.createDataFrame(
        [(0, base), (1, base + " extra")], ["doc_id", "text"]
    )
    pairs = dedup_minhash_lsh(df, threshold=0.5).collect()
    release_pins()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}


def test_similarity_family_spread_guard(cspark):
    """spread_scan dereferences sparkContext only behind try/except —
    under Connect it passes through and ann_topk still returns exact
    top-k."""
    from ffn_polars_spark.operators.similarity import ann_topk

    items = cspark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(6)], ["vec_id", "embedding"]
    )
    queries = cspark.createDataFrame([(100, [1.0, 0.0])], ["vec_id", "embedding"])
    got = [
        r["item_id"]
        for r in ann_topk(items, queries, k=2)
        .orderBy("rank")
        .collect()
    ]
    # cosine with (1,0) is i/sqrt(i^2+1): increasing in i
    assert got == [5, 4]


def test_blocked_sequence_family_order_blocked_guard(cspark):
    """r13 guard: _order_blocked sizes its blocks from the
    shuffle-partition conf under Connect (no sparkContext) and the global
    index (a running count) stays value-identical to the plain window."""
    from pyspark.sql import functions as F

    from ffn_polars_spark.core import blocked_keyed_cumsum

    rows = [("a", t) for t in [5, 1, 9, 3]] + [("b", t) for t in [2, 8]]
    df = cspark.createDataFrame(rows, "k string, ts long")
    got = {
        (r["k"], r["ts"]): r["gidx"]
        for r in blocked_keyed_cumsum(df, ["k"], ["ts"], {"gidx": F.lit(1)}).collect()
    }
    assert got == {
        ("a", 1): 1, ("a", 3): 2, ("a", 5): 3, ("a", 9): 4,
        ("b", 2): 1, ("b", 8): 2,
    }
