"""Property-based invariants (hypothesis): algebraic identities between
operators that must hold for ANY input series, complementing the pinned
golden values."""

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import ffn_polars_spark as ffn
from ffn_polars_spark import Over

OVER = Over(order_by="i")

prices = st.lists(
    st.floats(min_value=0.5, max_value=500.0, allow_nan=False, width=32),
    min_size=2,
    max_size=30,
)

# Smoke mode (default; see tests/conftest.py FULL_BATTERY): only the curated
# PROPERTY_SMOKE subset is collected, at fewer examples, so the default suite
# fits the driver's verify budget. FFN_FULL_BATTERY=1 restores the full
# 15-example battery over every test.
import os as _os

_FULL_BATTERY = _os.environ.get("FFN_FULL_BATTERY", "") not in ("", "0")

SET = settings(
    max_examples=15 if _FULL_BATTERY else 5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _frame(spark, ps):
    return spark.createDataFrame([(i, float(p)) for i, p in enumerate(ps)], ["i", "p"])


@given(ps=prices)
@SET
def test_price_index_of_returns_is_rebase(spark, ps):
    """cumprod(1 + returns(p)) * 100 == p / p0 * 100, for any positive series."""
    df = _frame(spark, ps).withColumn("returns", ffn.eod.to_returns("p", over=OVER))
    both = df.select(
        "i",
        ffn.eod.to_price_index("returns", start=100, over=OVER).alias("idx"),
        ffn.eod.rebase("p", value=100, over=OVER).alias("reb"),
    ).collect()
    for r in both:
        assert r["idx"] == pytest.approx(r["reb"], rel=1e-9)


@given(ps=prices)
@SET
def test_drawdown_nonpositive_and_max_dd_is_min(spark, ps):
    df = _frame(spark, ps)
    dd = df.select(
        ffn.eod.to_drawdown_series("p", over=OVER).alias("dd")
    ).collect()
    assert all(r["dd"] <= 1e-12 for r in dd)
    from ffn_polars_spark.functions.eod_risk import calc_max_drawdown

    mdd = calc_max_drawdown(df, "p", order_by="i").collect()[0][0]
    assert mdd == pytest.approx(min(r["dd"] for r in dd))


@given(ps=prices)
@SET
def test_total_return_consistency(spark, ps):
    df = _frame(spark, ps)
    tr = df.select(ffn.eod.calc_total_return("p", "i")).collect()[0][0]
    assert tr == pytest.approx(ps[-1] / ps[0] - 1, rel=1e-9)


@given(ps=prices)
@SET
def test_tick_rule_domain_and_imbalance_range(spark, ps):
    df = _frame(spark, ps)
    dirs = df.select(ffn.tick.tick_rule("p", over=OVER).alias("d")).collect()
    assert all(r["d"] in (-1, 0, 1) for r in dirs)
    # two-phase by design: series op in a projection, scalar agg after
    imb = (
        df.withColumn("d", ffn.tick.tick_rule("p", over=OVER).cast("double"))
        .select(ffn.tick.calc_tick_imbalance("d"))
        .collect()[0][0]
    )
    assert -1.0 - 1e-12 <= imb <= 1.0 + 1e-12


@given(ps=prices)
@SET
def test_vwap_bounded_by_price_range(spark, ps):
    df = _frame(spark, ps).withColumn("v", F.lit(1.0) + (F.col("i") % 3))
    vwap = df.select(ffn.tick.calc_vwap("p", "v")).collect()[0][0]
    assert min(ps) - 1e-9 <= vwap <= max(ps) + 1e-9


@given(ps=prices)
@SET
def test_log_returns_sum_is_total_log_return(spark, ps):
    df = _frame(spark, ps)
    s = (
        df.withColumn("lr", ffn.eod.to_log_returns("p", over=OVER))
        .agg(F.sum("lr").alias("s"))
        .collect()[0]["s"]
    )
    assert s == pytest.approx(math.log(ps[-1] / ps[0]), rel=1e-7, abs=1e-9)


ids_lists = st.lists(
    st.integers(min_value=0, max_value=10_000), min_size=1, max_size=60, unique=True
)


@given(vals=ids_lists, k=st.integers(min_value=1, max_value=10))
@SET
def test_bottomk_sample_is_python_min_k(spark, vals, k):
    """bottomk_sample == the k rows with smallest md5 uniform, computed
    independently in Python — for any id set and any k."""
    import hashlib

    def u(i):
        h = hashlib.md5(f"{i}:sample:0".encode()).hexdigest()
        return int(h[17:32], 16) / float(1 << 60)

    df = spark.createDataFrame([(v,) for v in vals], ["doc_id"])
    from ffn_polars_spark.operators.sketch import bottomk_sample

    got = sorted(r.doc_id for r in bottomk_sample(df, k).collect())
    want = sorted(sorted(vals, key=lambda v: (u(v), v))[:k])
    assert got == want


@given(vals=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=80))
@SET
def test_kmv_small_n_is_exact_count(spark, vals):
    """With k above the true cardinality, kmv_estimate IS the exact distinct
    count for any multiset."""
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    from ffn_polars_spark.operators.sketch import kmv_distinct

    row = kmv_distinct(df, "v", k=64).collect()[0]
    assert row.n_seen == len(set(vals))
    assert row.kmv_estimate == float(len(set(vals)))


@given(
    vals=st.lists(
        st.floats(min_value=-50.0, max_value=150.0, allow_nan=False, width=32),
        min_size=1,
        max_size=60,
    )
)
@SET
def test_histogram_total_and_bounds(spark, vals):
    """value_histogram never drops a row and never emits an out-of-range
    bin, for any values including ones outside [lo, hi)."""
    df = spark.createDataFrame([(float(v),) for v in vals], ["x"])
    from ffn_polars_spark.operators.sketch import value_histogram

    rows = value_histogram(df, "x", lo=0.0, hi=100.0, nbins=10).collect()
    assert sum(r.n for r in rows) == len(vals)
    assert all(0 <= r.bin <= 9 for r in rows)


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
            min_size=1,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    )
)
@SET
def test_duplicate_spans_matches_naive(spark, texts):
    """duplicate_spans == a naive Python recomputation (sliding windows,
    distinct per doc, cross-doc frequency) on any corpus."""
    W = 3
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    from ffn_polars_spark.operators.text import duplicate_spans

    got = {
        r.doc_id: (r.n_spans, r.dup_spans)
        for r in duplicate_spans(df, width=W).collect()
    }
    spans = {
        i: {
            " ".join(t.split()[j : j + W])
            for j in range(len(t.split()) - W + 1)
        }
        for i, t in enumerate(texts)
    }
    freq = {}
    for ss in spans.values():
        for s in ss:
            freq[s] = freq.get(s, 0) + 1
    want = {
        i: (len(ss), sum(1 for s in ss if freq[s] >= 2))
        for i, ss in spans.items()
        if ss
    }
    assert got == want


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab cd"), min_size=0, max_size=40
        ),
        min_size=1,
        max_size=8,
    ),
    chunk=st.integers(min_value=2, max_value=8),
    overlap=st.integers(min_value=0, max_value=6),
)
@SET
def test_chunk_documents_covers_and_reconstructs(spark, texts, chunk, overlap):
    """Every token of every non-empty doc lands in >=1 chunk, consecutive
    chunks share exactly `overlap` tokens (except the short tail), and
    stripping the overlap from non-first chunks reconstructs the doc."""
    from hypothesis import assume

    from ffn_polars_spark.operators.text import chunk_documents

    assume(overlap < chunk)
    stride = chunk - overlap
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    rows = chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text.split(" ") if r.chunk_text else []
    for i, text in enumerate(texts):
        toks = text.lower().split()
        if not toks:
            assert i not in by_doc
            continue
        chunks = [by_doc[i][c] for c in sorted(by_doc[i])]
        # reconstruction: first chunk + the tail of each subsequent chunk
        rebuilt = list(chunks[0])
        for c in chunks[1:]:
            rebuilt.extend(c[overlap:] if len(c) > overlap else [])
        # starts step by stride, so rebuilt may repeat the tail when the
        # last start is within `overlap` of the end; compare as prefix
        assert rebuilt[: len(toks)] == toks
        # chunk c_k starts at k*stride and is exactly min(chunk, n-start)
        # long — full until the window hits the end of the doc
        for k, c in enumerate(chunks):
            assert len(c) == min(chunk, len(toks) - k * stride)


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),   # user
            st.integers(min_value=0, max_value=2),   # stage index
            st.integers(min_value=0, max_value=50),  # ts
        ),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_funnel_counts_are_monotone_and_match_naive(spark, events):
    """Stage counts never increase along the funnel, and each equals a
    naive per-user Python evaluation of the strict first-occurrence
    ordering."""
    from ffn_polars_spark.operators.funnel import funnel_stages

    stages = ["s0", "s1", "s2"]
    rows = [(u, stages[s], t) for u, s, t in events]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts_ns"])
    got = {r.stage: r.n_users for r in funnel_stages(df, stages).collect()}
    assert got[0] >= got[1] >= got[2]
    firsts = {}
    for u, s, t in events:
        cur = firsts.setdefault(u, [None, None, None])
        if cur[s] is None or t < cur[s]:
            cur[s] = t
    want = [0, 0, 0]
    for t0, t1, t2 in firsts.values():
        if t0 is not None:
            want[0] += 1
            if t1 is not None and t0 < t1:
                want[1] += 1
                if t2 is not None and t1 < t2:
                    want[2] += 1
    assert [got[0], got[1], got[2]] == want


@given(
    n=st.integers(min_value=1, max_value=120),
    nbins=st.integers(min_value=1, max_value=8),
)
@SET
def test_quantile_bin_sizes_differ_by_at_most_one(spark, n, nbins):
    """ntile's contract: bin sizes differ by at most 1 and larger bins
    come first — for any row count and bin count."""
    from ffn_polars_spark.operators.sketch import quantile_bin

    df = spark.range(n).selectExpr("id AS event_id", "CAST(id AS DOUBLE) AS x")
    out = quantile_bin(df, "x", nbins=nbins, tiebreak="event_id")
    sizes = {r.bin: r["count"] for r in out.groupBy("bin").count().collect()}
    expected_bins = min(nbins, n)
    assert set(sizes) == set(range(1, expected_bins + 1))
    assert max(sizes.values()) - min(sizes.values()) <= 1
    ordered = [sizes[b] for b in sorted(sizes)]
    assert ordered == sorted(ordered, reverse=True)


def test_round6_ops_are_partition_invariant(spark):
    """Distributed correctness: every operator's result must be a pure
    function of the DATA, independent of how the input happens to be
    partitioned — the property that the md5-draw, ranged_cumsum-offset,
    and window idioms are all designed to preserve (and where a
    nondeterministic sample/offset bug would first show)."""
    import random

    rng = random.Random(42)
    docs = spark.createDataFrame(
        [
            (
                i,
                " ".join(
                    rng.choice(["agg", "scan", "join", "sort", "key", "row"])
                    for _ in range(rng.randint(3, 25))
                ),
                f"s{i % 5}",
                rng.randint(1, 500),
            )
            for i in range(300)
        ],
        ["doc_id", "text", "source", "n_chars"],
    )
    ticks = spark.createDataFrame(
        [
            ("T" + str(i % 3), i, 100.0 + rng.uniform(-5, 5),
             float(rng.randint(1, 50)))
            for i in range(600)
        ],
        ["k", "ts", "p", "v"],
    )

    from ffn_polars_spark.functions.tick_bars import vpin
    from ffn_polars_spark.functions.tick_price import (
        amihud_illiquidity,
        kyle_lambda,
        roll_spread,
    )
    from ffn_polars_spark.operators.pipeline import cap_per_group
    from ffn_polars_spark.operators.quality import (
        gini_by_group,
        ks_drift,
        psi_drift,
    )
    from ffn_polars_spark.operators.text import (
        doc_entropy,
        scrub_spans,
        vocab_jsd,
        zipf_slope,
    )

    cases = [
        (docs, lambda d: scrub_spans(d, width=3, min_docs=2)),
        (docs, lambda d: cap_per_group(d, 7, group_col="source")),
        (docs, lambda d: gini_by_group(d, "n_chars", group_col="source")),
        (docs, lambda d: zipf_slope(d)),
        (docs, lambda d: doc_entropy(d, unit="word")),
        (docs, lambda d: ks_drift(d, "n_chars", "source", "s0", "s1")),
        (docs, lambda d: vocab_jsd(d, "source", "s0", "s1")),
        (docs, lambda d: psi_drift(d, "n_chars", "source", "s0", "s1",
                                   lo=0.0, width=50.0)),
        (ticks, lambda t: amihud_illiquidity(t, "p", "v", by="k", order_by="ts")),
        (ticks, lambda t: roll_spread(t, "p", by="k", order_by="ts")),
        (ticks, lambda t: kyle_lambda(t, "p", "v", by="k", order_by="ts")),
        (ticks, lambda t: vpin(t, "ts", "p", "v", by=["k"],
                               volume_per_bucket=200.0)),
    ]
    def norm(rows):
        # floats are partition-invariant up to accumulation-order ulps
        # (the same reason the oracle compare rounds at r6) — round to 9
        # decimals; everything else must match exactly
        out = []
        for r in rows:
            out.append(tuple(
                round(v, 9) if isinstance(v, float) else v for v in r
            ))
        return sorted(out, key=str)

    for base, fn in cases:
        a = norm(fn(base.repartition(1)).collect())
        b = norm(fn(base.repartition(17)).collect())
        c = norm(fn(base.repartitionByRange(
            5, "doc_id" if "doc_id" in base.columns else "ts"
        )).collect())
        assert a == b == c, fn


# ---------------------------------------------------------------------------
# Blocked sequence family (core.blocked_keyed_lag / _cumsum): window-plan
# parity must hold for ANY tape — random key sets, random (unique-per-key)
# order values of every sliceable type, NULL values, and adversarial block
# counts (1 block, more blocks than rows).
# ---------------------------------------------------------------------------

tapes = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),                      # key
        st.integers(min_value=-1000, max_value=1000),          # order (deduped below)
        st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),  # value
    ),
    min_size=2,
    max_size=60,
)
blockcounts = st.integers(min_value=1, max_value=70)
order_kinds = st.sampled_from(["long", "timestamp", "date"])


def _tape_frame(spark, rows, kind="long"):
    from conftest import order_as

    # unique order per key (the documented F.lag determinism contract)
    seen, uniq = set(), []
    for k, t, v in rows:
        if (k, t) in seen:
            continue
        seen.add((k, t))
        uniq.append((k, t, None if v is None else float(v)))
    return order_as(
        spark.createDataFrame(uniq, "k string, ts long, v double"), "ts", kind
    )


@given(rows=tapes, nb=blockcounts, kind=order_kinds)
@SET
def test_blocked_lag_parity_property(spark, rows, nb, kind):
    from pyspark.sql import Window

    from ffn_polars_spark.core import blocked_keyed_lag

    df = _tape_frame(spark, rows, kind)
    w = Window.partitionBy("k").orderBy("ts")
    want = sorted(
        (r["k"], r["ts"], r["lv"])
        for r in df.select("k", "ts", F.lag("v").over(w).alias("lv")).collect()
    )
    got = sorted(
        (r["k"], r["ts"], r["lv"])
        for r in blocked_keyed_lag(df, ["k"], ["ts"], {"lv": "v"}, num_blocks=nb)
        .select("k", "ts", "lv")
        .collect()
    )
    assert got == want


@given(rows=tapes, nb=blockcounts, kind=order_kinds)
@SET
def test_blocked_index_and_cumsum_parity_property(spark, rows, nb, kind):
    """The row number (the running sum of 1) and the running sum of v."""
    from pyspark.sql import Window

    from ffn_polars_spark.core import blocked_keyed_cumsum

    df = _tape_frame(spark, rows, kind)
    w = Window.partitionBy("k").orderBy("ts")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    want = sorted(
        (r["k"], r["ts"], r["rn"], r["cv"])
        for r in df.select(
            "k",
            "ts",
            F.row_number().over(w).alias("rn"),
            F.sum("v").over(wc).alias("cv"),
        ).collect()
    )
    cum = blocked_keyed_cumsum(
        df, ["k"], ["ts"], {"rn": F.lit(1), "cv": "v"}, num_blocks=nb
    )
    got = sorted(
        (r["k"], r["ts"], r["rn"], r["cv"])
        for r in cum.select("k", "ts", "rn", "cv").collect()
    )
    # v is integer-valued (floats of ints) -> cumsum parity is EXACT
    assert got == want


@given(rows=tapes, nb=blockcounts, kind=order_kinds)
@SET
def test_unkeyed_blocked_cumsum_parity_property(spark, rows, nb, kind):
    """``keys=[]``: the prefix sum over the whole frame equals the plain
    un-partitioned running-sum window."""
    from pyspark.sql import Window

    from ffn_polars_spark.core import blocked_keyed_cumsum

    # one sequence: unique order over the whole frame
    df = _tape_frame(spark, [("a", t, v) for _, t, v in rows], kind)
    w = Window.orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    want = [
        (r["ts"], r["cv"])
        for r in df.select("ts", F.sum("v").over(w).alias("cv"))
        .orderBy("ts")
        .collect()
    ]
    got = [
        (r["ts"], r["cv"])
        for r in blocked_keyed_cumsum(df, [], ["ts"], {"cv": "v"}, num_blocks=nb)
        .orderBy("ts")
        .collect()
    ]
    assert got == want


def test_order_blocked_int64_span_overflow_falls_back(spark):
    """An order column spanning more than the int64 range must NOT take the
    equi-width block path: the executor-side (o0 - lo) would overflow long
    arithmetic, producing non-monotone block ids and a wrong stitch order.
    The guard falls back to one block (correct, only serial), and the
    blocked lag stays value-identical to the window."""
    from pyspark.sql import Window

    from ffn_polars_spark.core import _order_blocked, blocked_keyed_lag

    lo, hi = -(1 << 63), (1 << 63) - 1
    rows = [("a", lo, 1.0), ("a", -5, 2.0), ("a", 5, 3.0), ("a", hi, 4.0)]
    df = spark.createDataFrame(rows, "k string, ts long, v double")

    ob = _order_blocked(df, ["ts"], num_blocks=4)
    assert [r["__blk"] for r in ob.collect()] == [0] * 4

    w = Window.partitionBy("k").orderBy("ts")
    want = [
        (r["ts"], r["lv"])
        for r in df.select("ts", F.lag("v").over(w).alias("lv"))
        .orderBy("ts")
        .collect()
    ]
    got = [
        (r["ts"], r["lv"])
        for r in blocked_keyed_lag(df, ["k"], ["ts"], {"lv": "v"}, num_blocks=4)
        .orderBy("ts")
        .collect()
    ]
    assert got == want


# ---------------------------------------------------------------------------
# Threshold-bar float epsilon (volume_bars/dollar_bars): the blocked cumsum's
# association order can differ from the sequential window by ~1 ulp. The
# documented contract is that a bar assignment can flip ONLY when the running
# total sits exactly at (within float epsilon of) a bar boundary — never in
# the interior — and that integer/decimal volumes are exact at any block
# count.
# ---------------------------------------------------------------------------

float_vols = st.lists(
    st.floats(min_value=0.0078125, max_value=1024.0, allow_nan=False, width=32),
    min_size=3,
    max_size=80,
)


@given(vols=float_vols, nb=blockcounts)
@SET
def test_volume_bars_blocked_flips_only_at_float_boundaries(spark, vols, nb):
    from ffn_polars_spark.core import blocked_keyed_cumsum

    thresh = 50.0
    rows = [("k", i, float(v)) for i, v in enumerate(vols)]
    df = spark.createDataFrame(rows, "k string, ts long, v double")

    # sequential (window-plan-equivalent) reference, computed exactly as
    # IEEE-754 left-to-right accumulation in Python doubles
    cum, ref = 0.0, {}
    for i, v in enumerate(vols):
        ref[i] = cum  # open-boundary running total (cumsum - self)
        cum += float(v)

    out = blocked_keyed_cumsum(df, ["k"], ["ts"], {"cv": "v"}, num_blocks=nb)
    got = {
        r["ts"]: r["cv"] - float(vols[r["ts"]]) for r in out.collect()
    }
    total = sum(abs(float(v)) for v in vols) or 1.0
    flips = 0
    for i in range(len(vols)):
        # the association difference is bounded: a handful of ulps of the
        # running magnitude, never a material divergence
        assert abs(got[i] - ref[i]) <= 1e-9 * total, (i, got[i], ref[i])
        bar_ref = math.floor(ref[i] / thresh)
        bar_got = math.floor(got[i] / thresh)
        if bar_got != bar_ref:
            flips += 1
            # a flip is legal ONLY at a float boundary: the reference total
            # must sit within epsilon of an exact bar multiple
            dist = abs(ref[i] / thresh - round(ref[i] / thresh))
            assert dist <= 1e-9, (
                f"bar flip away from a boundary at row {i}: "
                f"ref={ref[i]} got={got[i]} dist={dist}"
            )
    # interior flips are impossible; boundary flips are rare by measure
    assert flips <= len(vols)


int_vols = st.lists(
    st.integers(min_value=1, max_value=10_000), min_size=3, max_size=80
)


@given(vols=int_vols, nb=blockcounts)
@SET
def test_volume_bars_blocked_exact_for_integer_volumes(spark, vols, nb):
    """Integer-valued volumes accumulate exactly in doubles (every partial
    sum here is < 2^53), so the blocked route's bar assignment is
    bit-identical to the sequential window at ANY block count."""
    from ffn_polars_spark.core import blocked_keyed_cumsum

    rows = [("k", i, float(v)) for i, v in enumerate(vols)]
    df = spark.createDataFrame(rows, "k string, ts long, v double")
    cum, ref = 0.0, {}
    for i, v in enumerate(vols):
        ref[i] = cum
        cum += float(v)
    out = blocked_keyed_cumsum(df, ["k"], ["ts"], {"cv": "v"}, num_blocks=nb)
    for r in out.collect():
        assert r["cv"] - float(vols[r["ts"]]) == ref[r["ts"]]


@pytest.mark.parametrize("kind", ["long", "timestamp", "date"])
def test_dollar_bars_decimal_route_plan_invariant(spark, kind):
    """The documented exact route for money-denominated bars: cast the
    volume (or price*volume) to DECIMAL before the bars call and the
    window and blocked plans produce IDENTICAL bars — decimal sums are
    exact in any association order, so the float boundary caveat
    disappears. Timestamp and date orders are sliced like integers."""
    from decimal import Decimal

    from conftest import order_as

    from ffn_polars_spark.functions.tick_bars import volume_bars

    rows = [
        ("k", i, 100.0 + i, Decimal(str((i * 7919) % 1000 + 1)) / 100)
        for i in range(500)
    ]
    df = order_as(
        spark.createDataFrame(
            rows, "k string, ts long, price double, v decimal(12,2)"
        ),
        "ts",
        kind,
    )
    win = sorted(
        map(tuple, volume_bars(
            df, "ts", "price", "v", by=["k"], volume_per_bar=37.0,
            seq_parallelism="window",
        ).collect())
    )
    blk = sorted(
        map(tuple, volume_bars(
            df, "ts", "price", "v", by=["k"], volume_per_bar=37.0,
            seq_parallelism="blocked",
        ).collect())
    )
    assert len(win) == len(blk) > 5  # non-vacuous: several bars closed
    for a, b in zip(win, blk):
        for x, y in zip(a, b):
            if isinstance(x, float):
                # double-typed derived aggregates (vwap) may differ by a
                # ulp with aggregation order — that is partial-aggregation
                # association, not bar assignment
                assert y == pytest.approx(x, rel=1e-12), (a, b)
            else:
                # bar ids, OHLC arg-extremes, counts, and the DECIMAL
                # volume sums are exactly plan-invariant
                assert x == y, (a, b)


@given(rows=tapes)
@SET
def test_ranged_cumsum_parity_property(spark, rows):
    """ranged_cumsum (global-order running sum without a single-partition
    window) must equal the plain unpartitioned window for any tape —
    including NULL values and NULL runs at partition seams. Values are
    integer-valued floats, so parity is exact."""
    from pyspark.sql import Window

    from ffn_polars_spark.core import ranged_cumsum

    # global ordering: (ts, k) is unique after the per-key dedup
    df = _tape_frame(spark, rows)
    w = (
        Window.orderBy("ts", "k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = sorted(
        (r["k"], r["ts"], r["cv"])
        for r in df.select("k", "ts", F.sum("v").over(w).alias("cv")).collect()
    )
    got = sorted(
        (r["k"], r["ts"], r["cv"])
        for r in ranged_cumsum(df, ["ts", "k"], {"cv": F.col("v")})
        .select("k", "ts", "cv")
        .collect()
    )
    assert got == want


# ---------------------------------------------------------------------------
# As-of join family: parity with a naive Python reference for ANY tape —
# including NULL-valued right rows (the matched row's value comes over even
# when NULL; an ignorenulls carry once substituted an earlier row's value,
# hypothesis-found r11) and tolerance nulling. Right timestamps are unique
# per key (the operator's documented determinism contract).
# ---------------------------------------------------------------------------

asof_tapes = st.tuples(
    st.lists(  # left: (key, ts)
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=25,
    ),
    st.lists(  # right: (key, ts, value-or-None)
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=100),
            st.one_of(st.none(), st.integers(min_value=-9, max_value=9)),
        ),
        min_size=1,
        max_size=25,
    ),
    st.one_of(st.none(), st.integers(min_value=0, max_value=20)),
)


def _asof_ref(left, right, strategy, tolerance):
    """Naive per-row reference: closest right row per strategy, matched
    row's value verbatim (NULL included), tolerance nulls the match."""
    out = []
    for k, t in left:
        cands = [(rt, v) for rk, rt, v in right if rk == k]
        back = max((c for c in cands if c[0] <= t), default=None)
        fwd = min((c for c in cands if c[0] >= t), default=None)
        if strategy == "backward":
            m = back
        elif strategy == "forward":
            m = fwd
        else:  # nearest: backward wins ties
            if back is None:
                m = fwd
            elif fwd is None:
                m = back
            else:
                m = back if (t - back[0]) <= (fwd[0] - t) else fwd
        if m is not None and tolerance is not None and abs(m[0] - t) > tolerance:
            m = None
        out.append((k, t, None if m is None else m[1]))
    return sorted(out, key=lambda r: (r[0], r[1]))


def _interp_ref(left, right):
    """np.interp-style reference, brackets matched by ROW with values
    verbatim: clamp outside the right range, exact hit takes the row's
    value (NULL included), and a NULL-valued bracket endpoint nulls the
    whole interpolation — the engine-replayable ASOF-twin semantics."""
    out = []
    for k, t in left:
        cands = sorted((rt, v) for rk, rt, v in right if rk == k)
        back = max(((rt, v) for rt, v in cands if rt <= t), default=None)
        fwd = min(((rt, v) for rt, v in cands if rt >= t), default=None)
        if back is None and fwd is None:
            val = None
        elif back is None:
            val = None if fwd[1] is None else float(fwd[1])
        elif fwd is None:
            val = None if back[1] is None else float(back[1])
        elif fwd[0] == back[0]:
            val = None if back[1] is None else float(back[1])
        elif back[1] is None or fwd[1] is None:
            val = None
        else:
            frac = (float(t) - float(back[0])) / (float(fwd[0]) - float(back[0]))
            val = float(back[1]) + (float(fwd[1]) - float(back[1])) * frac
        out.append((k, t, val))
    return sorted(out, key=lambda r: (r[0], r[1]))


@given(
    tape=asof_tapes,
    mode=st.sampled_from(
        ["backward", "forward", "nearest", "tolerance", "interp"]
    ),
)
@SET
def test_asof_join_parity_property(spark, tape, mode):
    """All five as-of modes vs the naive per-row reference: the three
    strategies with the tape's drawn tolerance, a forced-finite-tolerance
    mode (the asof_join_tolerance catalog entry's shape), and linear
    interpolation (NULL-valued right rows = NULL bracket endpoints)."""
    from ffn_polars_spark.operators.asof import asof_join, interp_asof_join

    left_rows, right_rows, tol = tape
    # unique right ts per key (the determinism contract); keep first
    seen = set()
    right_rows = [
        r for r in right_rows
        if (r[0], r[1]) not in seen and not seen.add((r[0], r[1]))
    ]
    ldf = spark.createDataFrame(left_rows, "k string, ts long")
    rdf = spark.createDataFrame(
        [(k, t, None if v is None else float(v)) for k, t, v in right_rows],
        "k string, ts long, v double",
    )
    if mode == "interp":
        got = sorted(
            ((r["k"], r["ts"], r["v"]) for r in
             interp_asof_join(ldf, rdf, on="ts", value_cols="v",
                              by="k").collect()),
            key=lambda r: (r[0], r[1]),
        )
        want = _interp_ref(left_rows, right_rows)
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert g[:2] == w[:2]
            if w[2] is None:
                assert g[2] is None
            else:
                assert g[2] == pytest.approx(w[2], rel=1e-12, abs=1e-12)
        return
    if mode == "tolerance":
        strategy, tol = "backward", (5 if tol is None else tol)
    else:
        strategy = mode
    got = sorted(
        ((r["k"], r["ts"], None if r["v"] is None else int(r["v"])) for r in
         asof_join(ldf, rdf, on="ts", by="k", strategy=strategy,
                   tolerance=tol).collect()),
        key=lambda r: (r[0], r[1]),
    )
    want = _asof_ref(left_rows, right_rows, strategy, tol)
    assert got == want


@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=200),
        ),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    cooldown=st.integers(min_value=0, max_value=50),
)
@SET
def test_debounce_parity_property(spark, events, cooldown):
    """debounce == the sequential Python walk for any event tape: keep iff
    >= cooldown since the LAST KEPT event of the key (reset-recurrence —
    not expressible as a fixed-grid dedup)."""
    from ffn_polars_spark.operators.recursive import debounce

    df = spark.createDataFrame(events, "k string, ts long")
    got = {
        (r["k"], r["ts"]): r["kept"]
        for r in debounce(df, "ts", cooldown, by=["k"]).collect()
    }
    want = {}
    last_kept: dict = {}
    for k, t in sorted(events, key=lambda e: (e[0], e[1])):
        keep = k not in last_kept or t - last_kept[k] >= cooldown
        if keep:
            last_kept[k] = t
        want[(k, t)] = keep
    assert got == want


@given(
    vals=st.lists(
        st.integers(min_value=-10, max_value=10), min_size=1, max_size=40
    ),
    threshold=st.integers(min_value=1, max_value=20),
    drift=st.integers(min_value=0, max_value=3),
)
@SET
def test_cusum_changepoints_parity_property(spark, vals, threshold, drift):
    """cusum_changepoints == the sequential Page-CUSUM walk for any
    integer-valued series (integer arithmetic in float64 -> threshold
    comparisons exact, so the parity is bit-level)."""
    from ffn_polars_spark.operators.recursive import cusum_changepoints

    rows = [("k", i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, ts long, x double")
    got = sorted(
        (r["ts"], r["cusum_pos"], r["cusum_neg"], r["alarm"], r["segment_id"])
        for r in cusum_changepoints(
            df, "ts", "x", target=0.0, threshold=float(threshold),
            drift=float(drift), by=["k"],
        ).collect()
    )
    # operator conventions (pinned by its recursive-CTE oracle):
    # segment_id starts at 1; alarm on STRICT crossing (> threshold)
    sp = sn = 0.0
    seg = 1
    want = []
    for i, v in enumerate(vals):
        sp = max(0.0, sp + (v - 0.0) - drift)
        sn = max(0.0, sn - (v - 0.0) - drift)
        alarm = sp > threshold or sn > threshold
        want.append((i, sp, sn, alarm, seg))
        if alarm:
            sp = sn = 0.0
            seg += 1
    assert got == want


@given(
    ticks=st.lists(
        st.tuples(
            st.integers(min_value=90, max_value=110),  # price
            st.integers(min_value=1, max_value=9),     # volume
        ),
        min_size=1,
        max_size=40,
    ),
    threshold=st.integers(min_value=1, max_value=30),
)
@SET
def test_imbalance_bars_parity_property(spark, ticks, threshold):
    """imbalance_bars' bar assignment == the sequential AFML walk for any
    integer tape: tick-rule signs (last non-zero carried through flats),
    signed volume accumulates, bar closes when |imbalance| >= threshold."""
    from ffn_polars_spark.functions.tick_bars import imbalance_bars

    rows = [("k", i, float(p), float(v)) for i, (p, v) in enumerate(ticks)]
    df = spark.createDataFrame(rows, "k string, ts long, price double, vol double")
    out = imbalance_bars(
        df, "ts", "price", "vol", threshold=float(threshold), by=["k"]
    ).collect()
    # reference walk -> per-bar (n_ticks, volume) in bar order
    sign = 0
    imb = 0.0
    bars, cur = [], [0, 0.0]
    prev_p = None
    for p, v in ticks:
        if prev_p is not None and p != prev_p:
            sign = 1 if p > prev_p else -1
        prev_p = p
        imb += sign * v
        cur[0] += 1
        cur[1] += v
        if abs(imb) >= threshold:
            bars.append(tuple(cur))
            cur = [0, 0.0]
            imb = 0.0
    if cur[0]:
        bars.append(tuple(cur))
    got = [
        (r["n_ticks"], r["volume"])
        for r in sorted(out, key=lambda r: r["bar_id"])
    ]
    assert got == bars


@given(ps=prices)
@SET
def test_macd_rsi_parity_property(spark, ps):
    """macd and rsi == the sequential Python IEEE recurrences, bit-for-bit
    (the Arrow walk performs the same multiply-add sequence; Python floats
    are the same IEEE doubles)."""
    from ffn_polars_spark.operators.recursive import macd, rsi

    df = _frame(spark, ps)
    got_m = {
        r["i"]: (r["macd"], r["macd_signal"], r["macd_hist"])
        for r in macd(df, "p", "i").collect()
    }
    a_f, a_s, a_g = 2.0 / 13.0, 2.0 / 27.0, 2.0 / 10.0
    ef = es = sig = None
    for i, x in enumerate(ps):
        x = float(x)
        if i == 0:
            ef = es = x
            sig = 0.0
        else:
            ef = a_f * x + (1.0 - a_f) * ef
            es = a_s * x + (1.0 - a_s) * es
            sig = a_g * (ef - es) + (1.0 - a_g) * sig
        m = ef - es
        assert got_m[i] == (m, sig, m - sig), i

    got_r = {r["i"]: r["p_rsi"] for r in rsi(df, "p", "i", n=14).collect()}
    a = 1.0 / 14.0
    ag = al = None
    assert got_r[0] is None  # no change yet
    for i in range(1, len(ps)):
        d = float(ps[i]) - float(ps[i - 1])
        g = d if d > 0.0 else 0.0
        l = -d if d < 0.0 else 0.0
        if i == 1:
            ag, al = g, l
        else:
            ag = a * g + (1.0 - a) * ag
            al = a * l + (1.0 - a) * al
        if al > 0.0:
            want = 100.0 - 100.0 / (1.0 + ag / al)
        elif ag > 0.0:
            want = 100.0
        else:
            want = None
        assert got_r[i] == want, i


@given(
    ps=st.lists(
        st.integers(min_value=80, max_value=120), min_size=2, max_size=35
    ),
    horizon=st.integers(min_value=1, max_value=10),
)
@SET
def test_triple_barrier_parity_property(spark, ps, horizon):
    """triple_barrier_label == the naive first-touch walk: +1 if the upper
    barrier is touched first within `horizon` future rows, -1 if the
    lower, 0 at the time barrier; ties (one future price crossing BOTH
    barriers is impossible, but equal offsets aren't) resolved exactly as
    the operator defines (upper checked at the same offset wins only if
    its touch index is strictly smaller — mirror the operator's
    first-index comparison)."""
    from ffn_polars_spark.functions.tick_bars import triple_barrier_label

    up, dn = 0.02, 0.02
    rows = [("k", i, float(p)) for i, p in enumerate(ps)]
    df = spark.createDataFrame(rows, "k string, ts long, price double")
    out = {
        r["ts"]: (r["label"], r["first_hit"])
        for r in triple_barrier_label(
            df, "price", "ts", horizon=horizon, up_pct=up, down_pct=dn,
            by=["k"],
        ).collect()
    }
    for i, p0 in enumerate(ps):
        fut = ps[i + 1 : i + 1 + horizon]
        ub, db = p0 * (1 + up), p0 * (1 - dn)
        i_up = next((j + 1 for j, q in enumerate(fut) if q >= ub), None)
        i_dn = next((j + 1 for j, q in enumerate(fut) if q <= db), None)
        if i_up is not None and (i_dn is None or i_up <= i_dn):
            want = (1, i_up)
        elif i_dn is not None:
            want = (-1, i_dn)
        else:
            want = (0, None)
        assert out[i] == want, (i, out[i], want)


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_connected_components_parity_property(spark, edges):
    """connected_components == union-find on any random edge list
    (self-loops, duplicates, arbitrary diameters): same partition of
    nodes, canonical label = min node id of the component."""
    from ffn_polars_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["comp"] for r in connected_components(df).collect()
    }
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    want = {}
    comp_min: dict = {}
    for n in nodes:
        r = find(n)
        comp_min.setdefault(r, []).append(n)
    for r, ns in comp_min.items():
        m = min(ns)
        for n in ns:
            want[n] = m
    assert got == want


# ---------------------------------------------------------------------------
# Stateful streaming ops vs their batch twins: random tapes — including
# out-of-order (late) and duplicate rows INSIDE each micro-batch — chunked
# into time-contiguous files, drained one file per trigger through
# run_available_now, must reproduce the batch operator / sequential
# reference exactly. This is the hand-written per-group-state seam class
# where the r10/r11 batteries caught two real bugs (ranged_cumsum NULL
# carry, asof row carry).
# ---------------------------------------------------------------------------

# fewer examples than SET: each example writes parquet files and drains a
# real streaming query (~2-4 s)
SET_STREAM = settings(
    max_examples=8 if _FULL_BATTERY else 2,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_NS = 1_000_000_000

# per-file tick chunks: (key, ts-offset-within-file, int price, int volume).
# Rows are written in GENERATED order (arbitrary — late rows inside the
# batch); file q's timestamps sit in [q*1000, q*1000+50] so files are
# time-contiguous and the file source's oldest-first order preserves the
# per-key event order ACROSS batches (the sequence ops' documented
# delivery contract). Integer prices/volumes keep every sum exact in
# float64, so stream-vs-batch parity is bit-level where the float ops
# match.
stream_tapes = st.lists(
    st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=1, max_value=200),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=12,
    ),
    min_size=1,
    max_size=3,
)


def _write_chunks(spark, chunks, cols, dedup_key_ts=False):
    """Write each chunk as one parquet file (in order); returns the dir.
    dedup_key_ts drops all-but-first rows per (key, ts) ACROSS the tape —
    sequence ops need a deterministic per-key order, and a batch window
    ordered by ts breaks ties nondeterministically."""
    import tempfile

    d = tempfile.mkdtemp(prefix="ffn_prop_stream_")
    seen: set = set()
    out_chunks = []
    for q, chunk in enumerate(chunks):
        rows = []
        for (k, toff, p, v) in chunk:
            t = (q * 1000 + toff) * _NS
            if dedup_key_ts:
                if (k, t) in seen:
                    continue
                seen.add((k, t))
            rows.append((k, t, float(p), float(v))[: len(cols)])
        if rows:
            spark.createDataFrame(rows, cols).coalesce(1).write.mode(
                "append"
            ).parquet(d)
            out_chunks.append(rows)
    return d, out_chunks


def _final_updates(rows, key, monotone):
    """Last update per key from an update-mode drain = the row with the
    largest value of the monotone cumulative column."""
    best = {}
    for r in rows:
        k = r[key]
        if k not in best or r[monotone] >= best[k][monotone]:
            best[k] = r
    return best


@given(chunks=stream_tapes)
@SET_STREAM
def test_stateful_running_vwap_matches_batch_property(spark, chunks):
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        stateful_running_vwap,
    )

    d, written = _write_chunks(
        spark, chunks, ["ticker", "ts", "price", "volume"]
    )
    if not written:
        return
    stream = read_tick_stream(spark, d, ts_col="ts", max_files_per_trigger=1)
    out = run_available_now(
        stateful_running_vwap(stream, "ticker", "price", "volume"),
        output_mode="update",
    ).collect()
    got = _final_updates(out, "ticker", "cum_volume")
    batch = {
        r["ticker"]: r
        for r in spark.read.parquet(d)
        .groupBy("ticker")
        .agg(
            ffn.tick.calc_vwap("price", "volume").alias("vwap"),
            F.sum("volume").cast("double").alias("vol"),
        )
        .collect()
    }
    assert set(got) == set(batch)
    for k in batch:
        assert got[k]["cum_volume"] == batch[k]["vol"]
        assert got[k]["running_vwap"] == pytest.approx(
            batch[k]["vwap"], rel=1e-12
        )


@given(chunks=stream_tapes)
@SET_STREAM
def test_stateful_realized_volatility_matches_batch_property(spark, chunks):
    from ffn_polars_spark.functions.tick_price import calc_realized_volatility
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        stateful_realized_volatility,
    )

    d, written = _write_chunks(
        spark, chunks, ["ticker", "ts", "price"], dedup_key_ts=True
    )
    if not written:
        return
    stream = read_tick_stream(spark, d, ts_col="ts", max_files_per_trigger=1)
    out = run_available_now(
        stateful_realized_volatility(stream, "ticker", "ts", "price"),
        output_mode="update",
    ).collect()
    got = _final_updates(out, "ticker", "n_returns")
    batch = {
        r["ticker"]: r
        for r in calc_realized_volatility(
            spark.read.parquet(d), "price", order_by="ts", by=["ticker"]
        ).collect()
    }
    # sequential reference for n_returns (the batch op emits only the stat)
    n_ref: dict = {}
    for rows in written:
        for k, t, p in sorted(rows, key=lambda r: (r[0], r[1])):
            n_ref[k] = n_ref.get(k, 0) + 1
    assert set(got) == set(batch)
    for k in batch:
        assert got[k]["n_returns"] == (n_ref[k] - 1 if n_ref[k] else 0)
        want_rv = batch[k]["price_realized_volatility"]
        if want_rv is None:
            assert got[k]["realized_volatility"] is None
        else:
            assert got[k]["realized_volatility"] == pytest.approx(
                want_rv, rel=1e-9, abs=1e-12
            )


@given(chunks=stream_tapes, threshold=st.sampled_from([0.5, 1.5]))
@SET_STREAM
def test_stateful_zscore_alerts_matches_sequential_property(
    spark, chunks, threshold
):
    """No batch operator exists for the prior-distribution alert count (the
    semantics are genuinely sequential), so the twin is the sequential
    Python walk with the SAME float expressions the vectorized in-batch
    prefix scan evaluates — integer-valued inputs make every sum exact, so
    the alert decisions are bit-identical."""
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        stateful_zscore_alerts,
    )

    min_obs = 3
    d, written = _write_chunks(
        spark, chunks, ["ticker", "ts", "price"], dedup_key_ts=True
    )
    if not written:
        return
    stream = read_tick_stream(spark, d, ts_col="ts", max_files_per_trigger=1)
    out = run_available_now(
        stateful_zscore_alerts(
            stream, "ticker", "ts", "price",
            threshold=threshold, min_obs=min_obs,
        ),
        output_mode="update",
    ).collect()
    got = _final_updates(out, "ticker", "n_events")

    want: dict = {}
    state: dict = {}
    for rows in written:
        for k, t, x in sorted(rows, key=lambda r: (r[0], r[1])):
            n, sx, sq, na = state.get(k, (0, 0.0, 0.0, 0))
            if n >= min_obs and n > 1:
                m = sx / n
                var = (sq - sx * sx / n) / (n - 1)
                if var > 0 and abs(x - m) > threshold * math.sqrt(var):
                    na += 1
            state[k] = (n + 1, sx + x, sq + x * x, na)
    for k, (n, sx, sq, na) in state.items():
        want[k] = (n, na)
    assert {k: (r["n_events"], r["n_alerts"]) for k, r in got.items()} == want


# ---------------------------------------------------------------------------
# r12 rewrite defenses: the operators whose shapes changed this round hold
# against naive full-formula references for ANY input.
# ---------------------------------------------------------------------------


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.sampled_from(["x1", "x2", "x3"]),
            st.sampled_from(["y1", "y2", "y3", "y4"]),
        ),
        min_size=1,
        max_size=60,
    )
)
@SET
def test_chi_square_identity_matches_full_grid_property(spark, rows):
    """The r12 identity rewrite (chi2 = n * sum O^2/(r*c) - n over OBSERVED
    cells) must equal the textbook full-grid sum((O-E)^2/E) INCLUDING
    observed-zero cells, computed naively in Python, for any contingency
    table — including degenerate single-row/column groups (NULL chi2)."""
    from ffn_polars_spark.operators.evaluation import chi_square

    df = spark.createDataFrame(rows, ["g", "x", "y"])
    got = {r["g"]: r for r in chi_square(df, "x", "y", by="g").collect()}

    from collections import Counter

    by_g: dict = {}
    for g, x, y in rows:
        by_g.setdefault(g, Counter())[(x, y)] += 1
    for g, cells in by_g.items():
        xs = sorted({x for x, _ in cells})
        ys = sorted({y for _, y in cells})
        n = sum(cells.values())
        rsum = {x: sum(v for (xx, _), v in cells.items() if xx == x) for x in xs}
        csum = {y: sum(v for (_, yy), v in cells.items() if yy == y) for y in ys}
        chi2 = 0.0
        for x in xs:
            for y in ys:  # FULL grid, zero cells included
                o = cells.get((x, y), 0)
                e = rsum[x] * csum[y] / n
                chi2 += (o - e) * (o - e) / e
        dof = (len(xs) - 1) * (len(ys) - 1)
        assert got[g]["dof"] == dof
        assert got[g]["n"] == n
        if dof == 0:
            assert got[g]["chi2"] is None
        else:
            assert got[g]["chi2"] == pytest.approx(chi2, rel=1e-9, abs=1e-9)
            # the r13 clamp contract: the identity form's floating-point
            # cancellation must never surface as a negative statistic
            assert got[g]["chi2"] >= 0.0


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # period
            st.one_of(st.none(), st.sampled_from(["u1", "u2", "u3", "u4"])),
        ),
        min_size=1,
        max_size=50,
    ),
    k=st.integers(min_value=1, max_value=3),
)
@SET
def test_topk_churn_null_keys_excluded_property(spark, rows, k):
    """The r12 NULL-key contract: NULL keys neither occupy top-k slots nor
    count toward set sizes — parity with a Python reference that drops
    them up front, for any tape and k."""
    from ffn_polars_spark.operators.wide import topk_churn

    df = spark.createDataFrame(rows, "p int, u string")
    got = {
        r["period"]: (r["n_curr"], r["n_prev"], r["n_common"])
        for r in topk_churn(df, "p", "u", k=k).collect()
    }

    from collections import Counter

    per: dict = {}
    for p, u in rows:
        if u is None:
            continue
        per.setdefault(p, Counter())[u] += 1
    tops = {
        p: set(
            sorted(cnt, key=lambda u: (-cnt[u], u))[:k]
        )
        for p, cnt in per.items()
    }
    periods = sorted(tops)
    want = {}
    for prev_p, p in zip(periods, periods[1:]):
        cur, prv = tops[p], tops[prev_p]
        want[p] = (len(cur), len(prv), len(cur & prv))
    assert got == want


def test_heaps_law_empty_input_nulls(spark):
    """Degenerate contract restored in r12: empty input emits NULL totals
    (the old max-over-empty semantics), never a fabricated 0."""
    from ffn_polars_spark.operators.text import heaps_law

    df = spark.createDataFrame([], "doc_id long, text string")
    row = heaps_law(df).collect()[0]
    assert row["total_tokens"] is None and row["vocab"] is None
    assert row["beta"] is None


@given(chunks=stream_tapes, threshold=st.sampled_from([5.0, 20.0]))
@SET_STREAM
def test_stateful_cusum_matches_sequential_property(spark, chunks, threshold):
    """The fourth hand-written state op: random multi-file tapes through
    one-file-per-trigger drains must reproduce the batch Page-CUSUM walk
    (integer-valued inputs in float64 -> threshold comparisons exact, so
    the alarm count, segment resets, and final s+/s- are bit-level)."""
    from ffn_polars_spark.streaming import (
        read_tick_stream,
        run_available_now,
        stateful_cusum,
    )

    target, drift = 100.0, 0.5
    d, written = _write_chunks(
        spark, chunks, ["ticker", "ts", "price"], dedup_key_ts=True
    )
    if not written:
        return
    stream = read_tick_stream(spark, d, ts_col="ts", max_files_per_trigger=1)
    out = run_available_now(
        stateful_cusum(
            stream, "ticker", "ts", "price",
            target=target, threshold=threshold, drift=drift,
        ),
        output_mode="update",
    ).collect()
    got = _final_updates(out, "ticker", "n_events")

    state: dict = {}
    for rows in written:
        for k, t, xv in sorted(rows, key=lambda r: (r[0], r[1])):
            sp, sn, n, na = state.get(k, (0.0, 0.0, 0, 0))
            e = xv - target
            sp = max(0.0, sp + e - drift)
            sn = max(0.0, sn - e - drift)
            if sp > threshold or sn > threshold:
                na += 1
                sp, sn = 0.0, 0.0
            state[k] = (sp, sn, n + 1, na)
    want = {k: (n, na, sp, sn) for k, (sp, sn, n, na) in state.items()}
    assert {
        k: (r["n_events"], r["n_alarms"], r["cusum_pos"], r["cusum_neg"])
        for k, r in got.items()
    } == want


@given(
    ticks_tape=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            # NEGATIVE timestamps included: r12's `div`-based ceil/floor
            # truncated toward zero, emitting grid points outside a
            # negative key span and missing in-span multiples
            # (ADVICE r12) — the Python reference's `//` is true floor
            # division, so it is sign-correct by construction
            st.integers(min_value=-120, max_value=120),
            st.integers(min_value=-9, max_value=9),
        ),
        min_size=1,
        max_size=40,
    ),
    step=st.integers(min_value=1, max_value=10),
)
@SET
def test_grid_snap_locf_parity_property(spark, ticks_tape, step):
    """grid_snap == the naive LOCF walk for any tape and step (negative
    timestamps included): grid points are the step multiples inside each
    key's [min ts, max ts], each takes the value of the last tick
    at-or-before it (exactly-aligned ticks included)."""
    from ffn_polars_spark.operators.asof import grid_snap

    # unique (key, ts): the operator's deterministic-order contract
    seen = set()
    rows = [
        r for r in ticks_tape
        if (r[0], r[1]) not in seen and not seen.add((r[0], r[1]))
    ]
    df = spark.createDataFrame(
        [(k, t, float(v)) for k, t, v in rows], "k string, ts long, v double"
    )
    got = {
        (r["k"], r["grid_ts"]): r["v"]
        for r in grid_snap(df, "ts", "v", step=step, by="k").collect()
    }
    want = {}
    per: dict = {}
    for k, t, v in rows:
        per.setdefault(k, []).append((t, v))
    for k, pts in per.items():
        pts.sort()
        lo, hi = pts[0][0], pts[-1][0]
        g = ((lo + step - 1) // step) * step
        while g <= hi:
            last = max((p for p in pts if p[0] <= g), key=lambda p: p[0])
            want[(k, g)] = float(last[1])
            g += step
    assert got == want


@given(
    intervals=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=60),
            st.integers(min_value=0, max_value=15),  # length (0 allowed)
        ),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_interval_union_sweep_parity_property(spark, intervals):
    """interval_union == the sequential sweep-line merge for any interval
    set: touching intervals merge, a zero-length point strictly past the
    running max end starts its own island; integer endpoints keep the
    covered/max-island sums exact in float64."""
    from ffn_polars_spark.operators.ranges import interval_union

    rows = [(k, s, s + ln) for k, s, ln in intervals]
    df = spark.createDataFrame(rows, "k string, s long, e long")
    got = {
        r["k"]: (r["covered"], r["n_islands"], r["max_island"], r["n_intervals"])
        for r in interval_union(df, "s", "e", by="k").collect()
    }
    want = {}
    per: dict = {}
    for k, s, e in rows:
        per.setdefault(k, []).append((s, e))
    for k, iv in per.items():
        iv.sort()
        islands = []
        cur_s = cur_e = None
        for s, e in iv:
            if cur_s is None or s > cur_e:
                if cur_s is not None:
                    islands.append((cur_s, cur_e))
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        islands.append((cur_s, cur_e))
        lens = [float(ie - is_) for is_, ie in islands]
        want[k] = (
            float(sum(lens)), len(islands), max(lens), len(iv)
        )
    assert got == want


@given(
    rets=st.lists(
        st.integers(min_value=-3, max_value=3), min_size=1, max_size=50
    )
)
@SET
def test_streak_stats_parity_property(spark, rets):
    """streak_stats == the sequential run-length walk for any return tape:
    sign runs (+/-/0), NULL max when a sign never occurs, n_runs counts
    flat runs too."""
    from ffn_polars_spark.functions.eod_risk import streak_stats

    rows = [("k", i, float(v)) for i, v in enumerate(rets)]
    df = spark.createDataFrame(rows, "k string, i long, r double")
    row = streak_stats(df, "r", order_by="i", by="k").collect()[0]

    signs = [1 if v > 0 else (-1 if v < 0 else 0) for v in rets]
    runs = []
    for s in signs:
        if runs and runs[-1][0] == s:
            runs[-1][1] += 1
        else:
            runs.append([s, 1])
    wins = [n for s, n in runs if s == 1]
    losses = [n for s, n in runs if s == -1]
    assert row["n_runs"] == len(runs)
    assert row["max_win_streak"] == (max(wins) if wins else None)
    assert row["max_loss_streak"] == (max(losses) if losses else None)


@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["u1", "u2"]),
            st.integers(min_value=0, max_value=500),
        ),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    gap=st.integers(min_value=1, max_value=100),
)
@SET
def test_session_stats_parity_property(spark, events, gap):
    """session_stats == the sequential gap walk for any event tape: a new
    session starts when the inter-event gap strictly exceeds `gap`;
    durations are max-min within session."""
    from ffn_polars_spark.operators.sessions import session_stats

    df = spark.createDataFrame(events, "user_id string, ts long")
    got = sorted(
        (r["user_id"], r["n_events"], r["duration"])
        for r in session_stats(df, "ts", "user_id", gap=gap).collect()
    )
    per: dict = {}
    for u, t in events:
        per.setdefault(u, []).append(t)
    want = []
    for u, ts in per.items():
        ts.sort()
        sessions = [[ts[0]]]
        for prev, cur in zip(ts, ts[1:]):
            if cur - prev > gap:
                sessions.append([cur])
            else:
                sessions[-1].append(cur)
        for s in sessions:
            want.append((u, len(s), s[-1] - s[0]))
    assert got == sorted(want)


@given(
    subjects=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=20),  # duration
            st.booleans(),                           # event observed
        ),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_kaplan_meier_parity_property(spark, subjects):
    """kaplan_meier == the textbook product-limit walk for any censored
    cohort: S(t) multiplies (1 - d/n) over event times only, censored
    subjects shrink the risk set without moving the curve, and rows are
    emitted only at times with >= 1 event."""
    from ffn_polars_spark.operators.survival import kaplan_meier

    rows = [("k", float(d), 1 if e else 0) for d, e in subjects]
    df = spark.createDataFrame(rows, "k string, dur double, ev int")
    got = {
        r["t"]: (r["n_at_risk"], r["n_events"], r["n_censored"], r["survival"])
        for r in kaplan_meier(df, "dur", "ev", by="k").collect()
    }

    from collections import Counter

    d_at = Counter()
    c_at = Counter()
    for d, e in subjects:
        (d_at if e else c_at)[d] += 1
    times = sorted(set(d_at) | set(c_at))
    n = len(subjects)
    s = 1.0
    want = {}
    for t in times:
        d, c = d_at.get(t, 0), c_at.get(t, 0)
        if d:
            s *= 1.0 - d / n
            want[float(t)] = (n, d, c, s)
        n -= d + c
    assert set(got) == set(want)
    for t, (nr, d, c, sv) in want.items():
        gr = got[t]
        assert (gr[0], gr[1], gr[2]) == (nr, d, c)
        assert gr[3] == pytest.approx(sv, rel=1e-12, abs=1e-12)


# ---------------------------------------------------------------------------
# r13 stats battery: the hand-derived closed forms in operators/evaluation.py
# and functions/tick_price.py hold against INDEPENDENT textbook references
# (pure Python/numpy, derived along a different algebraic route wherever one
# exists) for any tape — ties, single-element groups, and degenerate
# constant groups included. scipy/statsmodels are not installed in this
# container, so the references are re-derivations, not library calls; the
# Mann-Whitney reference in particular uses the O(n^2) pairwise-count
# DEFINITION of U rather than the engine's rank-sum identity.
# ---------------------------------------------------------------------------


_mw_rows = st.lists(
    st.tuples(
        st.sampled_from(["g1", "g2"]),
        st.sampled_from([0.0, 1.0, 1.5, 2.0, 2.0, 3.0, 5.0]),  # force ties
        st.integers(min_value=0, max_value=1),
    ),
    min_size=1,
    max_size=40,
)


@given(rows=_mw_rows)
@SET
def test_mann_whitney_u_pairwise_definition_property(spark, rows):
    """u equals the pairwise-count DEFINITION U1 = #(pos>neg) + 0.5*#(pos=neg)
    (a different formulation than the engine's rank-sum identity), and z
    matches the tie-corrected normal approximation recomputed from scratch."""
    from collections import Counter

    from ffn_polars_spark.operators.evaluation import mann_whitney_u

    df = spark.createDataFrame(rows, "g string, v double, y int")
    got = {r["g"]: r for r in mann_whitney_u(df, "v", "y", by="g").collect()}

    per: dict = {}
    for g, v, y in rows:
        per.setdefault(g, []).append((v, y))
    for g, pts in per.items():
        pos = [v for v, y in pts if y == 1]
        neg = [v for v, y in pts if y == 0]
        r = got[g]
        assert r["n_pos"] == len(pos) and r["n_neg"] == len(neg)
        if not pos or not neg:
            assert r["u"] is None and r["z"] is None
            continue
        u1 = sum(
            1.0 if p > q else (0.5 if p == q else 0.0) for p in pos for q in neg
        )
        assert r["u"] == pytest.approx(u1, abs=1e-9)
        n1, n2 = len(pos), len(neg)
        n = n1 + n2
        t3t = sum(t**3 - t for t in Counter(v for v, _ in pts).values())
        var = (
            n1 * n2 / 12.0 * ((n + 1) - (t3t / (n * (n - 1)) if n > 1 else 0.0))
        )
        if var > 0:
            z = (u1 - n1 * n2 / 2.0) / math.sqrt(var)
            assert r["z"] == pytest.approx(z, rel=1e-9, abs=1e-9)
        else:
            assert r["z"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.floats(min_value=-5, max_value=5, allow_nan=False, width=16),
        ),
        min_size=1,
        max_size=30,
    ),
    lags=st.integers(min_value=1, max_value=6),
)
@SET
def test_newey_west_tstat_direct_recompute_property(spark, rows, lags):
    """(mean, se_nw, t_nw) match a direct numpy recomputation of the
    Bartlett-weighted HAC variance for any tape and lag count — including
    single-element groups (se NULL) and constant groups (var 0)."""
    import numpy as np

    from ffn_polars_spark.operators.evaluation import newey_west_tstat

    data = [(g, i, float(v)) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, i long, v double")
    got = {
        r["g"]: r
        for r in newey_west_tstat(df, "v", order_by="i", by="g", lags=lags).collect()
    }
    per: dict = {}
    for g, i, v in data:
        per.setdefault(g, []).append((i, v))
    for g, pts in per.items():
        x = np.array([v for _, v in sorted(pts)], dtype=np.float64)
        n = len(x)
        u = x - x.mean()
        var = float(np.dot(u, u)) / n
        for l in range(1, lags + 1):
            gl = float(np.dot(u[l:], u[:-l])) / n if l < n else 0.0
            var += 2.0 * (1.0 - l / (lags + 1.0)) * gl
        r = got[g]
        assert r["n"] == n
        assert r["mean"] == pytest.approx(float(x.mean()), rel=1e-9, abs=1e-12)
        if var > 0:
            assert r["se_nw"] == pytest.approx(math.sqrt(var / n), rel=1e-9)
            assert r["t_nw"] == pytest.approx(
                float(x.mean()) / math.sqrt(var / n), rel=1e-9, abs=1e-9
            )
        else:
            assert r["se_nw"] is None and r["t_nw"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.floats(min_value=-3, max_value=3, allow_nan=False, width=16),
        ),
        min_size=2,
        max_size=30,
    )
)
@SET
def test_adf_stat_lstsq_reference_property(spark, rows):
    """(beta, t_stat) match a numpy least-squares regression of diff(x) on
    lag(x) with residuals computed DIRECTLY (not via the engine's expanded
    moment identity), for any tape — zero-lag and constant tapes included."""
    import numpy as np

    from ffn_polars_spark.functions.tick_price import adf_stat

    data = [(g, i, float(v)) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, i long, v double")
    got = {r["g"]: r for r in adf_stat(df, "v", order_by="i", by="g").collect()}
    per: dict = {}
    for g, i, v in data:
        per.setdefault(g, []).append((i, v))
    for g, pts in per.items():
        x = np.array([v for _, v in sorted(pts)], dtype=np.float64)
        if len(x) < 2:
            assert g not in got  # a 1-row group has no lagged row at all
            continue
        xp = x[:-1]
        d = np.diff(x)
        r = got[g]
        assert r["n"] == len(d)
        sxx = float(np.dot(xp, xp))
        if sxx <= 0:
            assert r["beta"] is None and r["t_stat"] is None
            continue
        beta = float(np.dot(d, xp)) / sxx
        assert r["beta"] == pytest.approx(beta, rel=1e-9, abs=1e-12)
        resid = d - beta * xp
        n = len(d)
        if n > 1:
            ssr = float(np.dot(resid, resid))
            # the engine computes SSR by the single-pass expanded identity
            # sdd - 2*beta*sdx + beta^2*sxx (the distributed-friendly form,
            # documented in the docstring) — near-perfect fits cancel
            # catastrophically, so compare t only when SSR is resolvable
            # above the cancellation noise floor of that identity
            magnitude = (
                float(np.dot(d, d))
                + 2.0 * abs(beta * float(np.dot(d, xp)))
                + beta * beta * sxx
            )
            se2 = ssr / (n - 1) / sxx
            if se2 > 0 and ssr > 1e-9 * magnitude:
                assert r["t_stat"] == pytest.approx(
                    beta / math.sqrt(se2), rel=1e-7, abs=1e-9
                )
            elif se2 <= 0:
                assert r["t_stat"] is None
            # else: SSR below the identity's noise floor — the engine's t
            # is correct to ~sqrt(cancellation) and may be NULL (negative
            # float SSR); both are within contract
        else:
            assert r["t_stat"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.sampled_from(["a", "b", "c"]),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_cohens_kappa_confusion_matrix_property(spark, rows):
    """(kappa, po, pe, n) match the direct confusion-matrix computation for
    any label tape — including the pe=1 degenerate (both raters constant
    and identical -> NULL kappa)."""
    from collections import Counter

    from ffn_polars_spark.operators.evaluation import cohens_kappa

    df = spark.createDataFrame(rows, "g string, a string, b string")
    got = {r["g"]: r for r in cohens_kappa(df, "a", "b", by="g").collect()}
    per: dict = {}
    for g, a, b in rows:
        per.setdefault(g, []).append((a, b))
    for g, pts in per.items():
        n = len(pts)
        po = sum(1 for a, b in pts if a == b) / n
        ca = Counter(a for a, _ in pts)
        cb = Counter(b for _, b in pts)
        pe = sum(ca[k] * cb.get(k, 0) for k in ca) / (n * n)
        r = got[g]
        assert r["n"] == n
        assert r["po"] == pytest.approx(po, abs=1e-12)
        assert r["pe"] == pytest.approx(pe, rel=1e-12, abs=1e-12)
        if pe < 1.0:
            assert r["kappa"] == pytest.approx((po - pe) / (1.0 - pe), rel=1e-9, abs=1e-12)
        else:
            assert r["kappa"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(min_value=0, max_value=1),  # success
            st.integers(min_value=0, max_value=1),  # variant
        ),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_proportion_ztest_direct_property(spark, rows):
    """(rate_1, rate_0, lift, z) match the pooled-variance two-proportion
    z-test recomputed directly — empty arms and all-success/all-failure
    pools (var 0) produce the documented NULLs."""
    from ffn_polars_spark.operators.evaluation import proportion_ztest

    df = spark.createDataFrame(rows, "g string, s int, v int")
    got = {r["g"]: r for r in proportion_ztest(df, "s", "v", by="g").collect()}
    per: dict = {}
    for g, s, v in rows:
        per.setdefault(g, []).append((s, v))
    for g, pts in per.items():
        s1 = sum(s for s, v in pts if v == 1)
        n1 = sum(1 for _, v in pts if v == 1)
        s0 = sum(s for s, v in pts if v == 0)
        n0 = sum(1 for _, v in pts if v == 0)
        r = got[g]
        assert (r["n_1"], r["n_0"]) == (n1, n0)
        assert r["rate_1"] == (pytest.approx(s1 / n1) if n1 else None)
        assert r["rate_0"] == (pytest.approx(s0 / n0) if n0 else None)
        if n1 and n0:
            p1, p0 = s1 / n1, s0 / n0
            pooled = (s1 + s0) / (n1 + n0)
            var = pooled * (1 - pooled) * (1 / n1 + 1 / n0)
            assert r["lift"] == pytest.approx(p1 - p0, abs=1e-12)
            if var > 0:
                assert r["z"] == pytest.approx((p1 - p0) / math.sqrt(var), rel=1e-9, abs=1e-12)
            else:
                assert r["z"] is None
        else:
            assert r["lift"] is None and r["z"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from([0.0, 0.25, 0.5, 1.0, 2.0, 3.0]),
            st.sampled_from([0.0, 1.0, 1.5, 4.0]),
        ),
        min_size=1,
        max_size=50,
    ),
    bins=st.integers(min_value=2, max_value=6),
)
@SET
def test_mutual_information_histogram_property(spark, rows, bins):
    """(mi, mi_normalized, n) match a from-scratch histogram MI — the
    reference replays the engine's exact binning arithmetic (same float
    ops, so boundary bins agree bit-for-bit) but derives MI, Hx, Hy from
    plain joint/marginal counts. Degenerate single-value axes (bin width
    0) collapse to bin 0 with MI = 0."""
    from collections import Counter

    from ffn_polars_spark.operators.evaluation import mutual_information

    df = spark.createDataFrame([(x, y) for x, y in rows], "x double, y double")
    r = mutual_information(df, "x", "y", bins=bins).collect()[0]

    xs = [x for x, _ in rows]
    ys = [y for _, y in rows]
    xlo, xhi = min(xs), max(xs)
    ylo, yhi = min(ys), max(ys)

    def bin_(c, lo, hi):
        w = hi - lo
        if w > 0:
            return min(int(math.floor((c - lo) / w * bins)), bins - 1)
        return 0

    joint = Counter((bin_(x, xlo, xhi), bin_(y, ylo, yhi)) for x, y in rows)
    n = len(rows)
    ci = Counter()
    cj = Counter()
    for (i, j), c in joint.items():
        ci[i] += c
        cj[j] += c
    mi = sum(
        (c / n) * math.log((c / n) / ((ci[i] / n) * (cj[j] / n)))
        for (i, j), c in joint.items()
    )
    hx = -sum((c / n) * math.log(c / n) for c in ci.values())
    hy = -sum((c / n) * math.log(c / n) for c in cj.values())
    assert r["n"] == n
    assert r["mi"] == pytest.approx(mi, rel=1e-9, abs=1e-12)
    hmin = min(hx, hy)
    if hmin > 0:
        assert r["mi_normalized"] == pytest.approx(mi / hmin, rel=1e-9, abs=1e-12)
    else:
        assert r["mi_normalized"] is None


@given(
    ps=st.lists(
        st.one_of(
            st.none(),
            st.sampled_from([0.001, 0.01, 0.02, 0.02, 0.05, 0.2, 0.5, 0.9, 1.0]),
        ),
        min_size=1,
        max_size=30,
    )
)
@SET
def test_p_adjust_bh_sequential_reference_property(spark, ps):
    """p_adj matches the sequential BH walk (sort ascending, tail running
    min of p*m/j, clip at 1) for any p tape — ties get equal adjustments,
    NULL p-values pass through with NULL rank/adjustment and do not count
    toward m."""
    from ffn_polars_spark.operators.evaluation import p_adjust_bh

    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(ps)], "i long, p double"
    )
    got = p_adjust_bh(df, "p").collect()

    valid = sorted(p for p in ps if p is not None)
    m = len(valid)
    raw = [p * m / (j + 1) for j, p in enumerate(valid)]
    adj = raw[:]
    for j in range(m - 2, -1, -1):
        adj[j] = min(adj[j], adj[j + 1])
    adj = [min(a, 1.0) for a in adj]
    want_by_p: dict = {}
    for p, a in zip(valid, adj):
        # equal p => equal adjustment (the operator's documented tie rule)
        want_by_p[p] = a
    for r in got:
        if ps[r["i"]] is None:
            assert r["p_rank"] is None and r["p_adj"] is None
        else:
            assert r["p_adj"] == pytest.approx(want_by_p[ps[r["i"]]], rel=1e-12)
    ranks = sorted(r["p_rank"] for r in got if r["p_rank"] is not None)
    assert ranks == list(range(1, m + 1))


# ---------------------------------------------------------------------------
# r13 stats battery, wave 2: the remaining hand-derived closed forms with
# only example tests — forecast_mase, effective_sample_size (shares the
# newey-west lag-stack shape and had the same short-group NULL-poisoning),
# rate_ratio_test, tail_dependence, ols2_by_group, weighted_quantile,
# transition_entropy, self_excitation — each against an independent
# sequential/numpy reference.
# ---------------------------------------------------------------------------


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.sampled_from([0.0, 1.0, 1.5, 2.0, 3.0]),
        ),
        min_size=1,
        max_size=30,
    ),
    season=st.integers(min_value=1, max_value=8),
)
@SET
def test_forecast_mase_sequential_property(spark, rows, season):
    """(mase, mae_seasonal, mae_naive, n) match the sequential walk: each
    MAE averages over its own valid rows; NULL when a lag has no rows or
    the naive MAE is 0 (constant series)."""
    from ffn_polars_spark.operators.evaluation import forecast_mase

    data = [(g, i, float(v)) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, i long, v double")
    got = {
        r["g"]: r
        for r in forecast_mase(df, "v", order_by="i", by="g", season=season).collect()
    }
    per: dict = {}
    for g, i, v in data:
        per.setdefault(g, []).append((i, v))
    for g, pts in per.items():
        x = [v for _, v in sorted(pts)]
        es = [abs(x[t] - x[t - season]) for t in range(season, len(x))]
        e1 = [abs(x[t] - x[t - 1]) for t in range(1, len(x))]
        r = got[g]
        assert r["n"] == len(x)
        if es:
            assert r["mae_seasonal"] == pytest.approx(sum(es) / len(es), abs=1e-12)
        else:
            assert r["mae_seasonal"] is None
        if e1:
            assert r["mae_naive"] == pytest.approx(sum(e1) / len(e1), abs=1e-12)
        else:
            assert r["mae_naive"] is None
        if e1 and sum(e1) > 0 and es:
            assert r["mase"] == pytest.approx(
                (sum(es) / len(es)) / (sum(e1) / len(e1)), rel=1e-9
            )
        else:
            assert r["mase"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.floats(min_value=-5, max_value=5, allow_nan=False, width=16),
        ),
        min_size=1,
        max_size=25,
    ),
    lags=st.integers(min_value=1, max_value=6),
)
@SET
def test_effective_sample_size_direct_property(spark, rows, lags):
    """(n, n_eff, autocorr_sum) match the direct recomputation — a lag
    with no valid pairs contributes rho_l = 0 (the r13 newey-west fix
    class), the factor floors at 1, and a zero-variance group keeps
    n_eff = n."""
    import numpy as np

    from ffn_polars_spark.operators.evaluation import effective_sample_size

    data = [(g, i, float(v)) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, i long, v double")
    got = {
        r["g"]: r
        for r in effective_sample_size(
            df, "v", order_by="i", by="g", lags=lags
        ).collect()
    }
    per: dict = {}
    for g, i, v in data:
        per.setdefault(g, []).append((i, v))
    for g, pts in per.items():
        x = np.array([v for _, v in sorted(pts)], dtype=np.float64)
        n = len(x)
        u = x - x.mean()
        g0 = float(np.dot(u, u))
        r = got[g]
        assert r["n"] == n
        if g0 <= 0:
            assert r["n_eff"] == pytest.approx(float(n))
            assert r["autocorr_sum"] is None
            continue
        rs = sum(
            (float(np.dot(u[l:], u[:-l])) if l < n else 0.0) / g0
            for l in range(1, lags + 1)
        )
        assert r["autocorr_sum"] == pytest.approx(rs, rel=1e-9, abs=1e-12)
        assert r["n_eff"] == pytest.approx(n / max(1.0, 1.0 + 2.0 * rs), rel=1e-9)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(min_value=0, max_value=1),  # variant
            st.integers(min_value=1, max_value=5),  # exposure
        ),
        min_size=1,
        max_size=40,
    ),
    with_exposure=st.booleans(),
)
@SET
def test_rate_ratio_test_direct_property(spark, rows, with_exposure):
    """(rate_1, rate_0, rate_ratio, z) match the Poisson log-ratio test
    recomputed directly, with and without an exposure column; empty arms
    give the documented NULLs."""
    from ffn_polars_spark.operators.evaluation import rate_ratio_test

    df = spark.createDataFrame(rows, "g string, v int, e int")
    out = rate_ratio_test(
        df, "v", by="g", exposure_col="e" if with_exposure else None
    )
    got = {r["g"]: r for r in out.collect()}
    per: dict = {}
    for g, v, e in rows:
        per.setdefault(g, []).append((v, e))
    for g, pts in per.items():
        c1 = sum(1 for v, _ in pts if v == 1)
        c0 = sum(1 for v, _ in pts if v == 0)
        e1 = sum(e for v, e in pts if v == 1) if with_exposure else 1.0
        e0 = sum(e for v, e in pts if v == 0) if with_exposure else 1.0
        r = got[g]
        assert (r["n_1"], r["n_0"]) == (c1, c0)
        r1 = c1 / e1 if e1 > 0 else None
        r0 = c0 / e0 if e0 > 0 else None
        assert r["rate_1"] == (pytest.approx(r1) if r1 is not None else None)
        assert r["rate_0"] == (pytest.approx(r0) if r0 is not None else None)
        if r1 is not None and r0 is not None and r0 > 0:
            ratio = r1 / r0
            assert r["rate_ratio"] == pytest.approx(ratio, rel=1e-12)
            if c1 > 0 and c0 > 0 and ratio > 0:
                z = math.log(ratio) / math.sqrt(1.0 / c1 + 1.0 / c0)
                assert r["z"] == pytest.approx(z, rel=1e-9, abs=1e-12)
            else:
                assert r["z"] is None
        else:
            assert r["rate_ratio"] is None and r["z"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.floats(min_value=-10, max_value=10, allow_nan=False, width=16),
            st.floats(min_value=-10, max_value=10, allow_nan=False, width=16),
        ),
        min_size=2,
        max_size=40,
    ),
    q=st.sampled_from([0.5, 0.75, 0.9, 0.95]),
)
@SET
def test_tail_dependence_direct_property(spark, rows, q):
    """(lambda_u, lift, n_tail_x, n) match the direct conditional-count
    computation on numpy's linear-interpolation percentile (the same
    Type-7 convention as F.percentile); an empty x-tail gives NULLs."""
    import numpy as np

    from ffn_polars_spark.operators.evaluation import tail_dependence

    df = spark.createDataFrame(rows, "x double, y double")
    r = tail_dependence(df, "x", "y", q=q).collect()[0]
    xs = np.array([x for x, _ in rows])
    ys = np.array([y for _, y in rows])
    qx = float(np.percentile(xs, q * 100, method="linear"))
    qy = float(np.percentile(ys, q * 100, method="linear"))
    tail = (xs > qx)
    both = tail & (ys > qy)
    assert r["n"] == len(rows)
    assert r["n_tail_x"] == int(tail.sum())
    if tail.sum() > 0:
        lam = both.sum() / tail.sum()
        assert r["lambda_u"] == pytest.approx(lam, rel=1e-12)
        assert r["lift"] == pytest.approx(lam / (1.0 - q), rel=1e-9)
    else:
        assert r["lambda_u"] is None and r["lift"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.floats(min_value=-3, max_value=3, allow_nan=False, width=16),
            st.floats(min_value=-3, max_value=3, allow_nan=False, width=16),
            st.floats(min_value=-3, max_value=3, allow_nan=False, width=16),
        ),
        min_size=3,
        max_size=40,
    )
)
@SET
def test_ols2_by_group_lstsq_property(spark, rows):
    """(alpha, beta1, beta2, r2) match numpy lstsq on the interceptful
    design matrix whenever the normal-equation determinant is well away
    from 0 (near-singular designs are skipped — the closed form and lstsq
    legitimately diverge there, and the operator NULLs at det <= 0)."""
    import numpy as np

    from ffn_polars_spark.operators.evaluation import ols2_by_group

    df = spark.createDataFrame(rows, "y double, x1 double, x2 double")
    r = ols2_by_group(df, "y", "x1", "x2").collect()[0]
    y = np.array([a for a, _, _ in rows])
    x1 = np.array([b for _, b, _ in rows])
    x2 = np.array([c for _, _, c in rows])
    s11, s22 = float(np.var(x1)), float(np.var(x2))
    s12 = float(np.mean((x1 - x1.mean()) * (x2 - x2.mean())))
    det = s11 * s22 - s12 * s12
    assert r["n"] == len(rows)
    if det <= 1e-9 * max(s11 * s22, 1e-30):
        return  # near-singular: skip (operator may NULL or be ill-conditioned)
    A = np.column_stack([np.ones(len(y)), x1, x2])
    coef, *_ = np.linalg.lstsq(A, y, rcond=None)
    assert r["alpha"] == pytest.approx(coef[0], rel=1e-5, abs=1e-7)
    assert r["beta1"] == pytest.approx(coef[1], rel=1e-5, abs=1e-7)
    assert r["beta2"] == pytest.approx(coef[2], rel=1e-5, abs=1e-7)
    syy = float(np.var(y))
    if syy > 0:
        pred = A @ coef
        r2 = 1.0 - float(np.var(y - pred)) / syy
        assert r["r2"] == pytest.approx(r2, rel=1e-5, abs=1e-7)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.sampled_from([1.0, 2.0, 2.0, 3.0, 5.0, 8.0]),  # values, ties
            st.integers(min_value=1, max_value=5),  # integer weights
        ),
        min_size=1,
        max_size=40,
    ),
    q=st.sampled_from([0.1, 0.5, 0.9]),
)
@SET
def test_weighted_quantile_repeat_expansion_property(spark, rows, q):
    """The Type-1 weighted quantile equals the plain Type-1 quantile of
    the weight-expanded multiset (a weight of w acts exactly like w
    repeats) for any tape, ties included."""
    from ffn_polars_spark.operators.sketch import weighted_quantile

    df = spark.createDataFrame(rows, "g string, v double, w int")
    out = weighted_quantile(df, "v", "w", group_by=["g"], quantiles=(q,))
    qcol = [c for c in out.columns if c.endswith("_w") and c != "total_weight"][0]
    got = {r["g"]: r for r in out.collect()}
    per: dict = {}
    for g, v, w in rows:
        per.setdefault(g, []).extend([v] * w)
    for g, expanded in per.items():
        expanded.sort()
        W = len(expanded)
        # Type-1: smallest value whose cumulative count >= q*W
        import math as _m

        idx = max(1, _m.ceil(q * W - 1e-12))
        want = expanded[idx - 1]
        r = got[g]
        assert r["total_weight"] == pytest.approx(float(W))
        assert r[qcol] == pytest.approx(want), (g, expanded, q)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["u1", "u2", "u3"]),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=2,
        max_size=40,
    )
)
@SET
def test_transition_entropy_sequential_property(spark, rows):
    """Per-from-state entropy and the __overall__ conditional entropy
    rate match the direct computation over sequentially-built transition
    counts."""
    from collections import Counter

    from ffn_polars_spark.operators.funnel import transition_entropy

    data = [(u, t, i, i) for i, (u, t) in enumerate(rows)]
    df = spark.createDataFrame(data, "u string, t string, ts long, id long")
    got = {
        r["from_type"]: r
        for r in transition_entropy(
            df, user_col="u", type_col="t", ts_col="ts", tiebreak_col="id"
        ).collect()
    }
    seqs: dict = {}
    for u, t, ts, _ in sorted(data, key=lambda r: (r[0], r[2])):
        seqs.setdefault(u, []).append(t)
    trans = Counter()
    for u, seq in seqs.items():
        for a, b in zip(seq, seq[1:]):
            trans[(a, b)] += 1
    if not trans:
        assert got == {} or set(got) == {"__overall__"}
        return
    outs: dict = {}
    for (a, b), c in trans.items():
        outs.setdefault(a, Counter())[b] = c
    total = sum(trans.values())
    rate = 0.0
    for a, cnt in outs.items():
        n = sum(cnt.values())
        h = -sum((c / n) * math.log2(c / n) for c in cnt.values())
        r = got[a]
        assert r["n"] == n and r["n_out"] == len(cnt)
        assert r["entropy"] == pytest.approx(h, rel=1e-9, abs=1e-12)
        rate += h * n / total
    r = got["__overall__"]
    assert r["n"] == total
    assert r["entropy"] == pytest.approx(rate, rel=1e-9, abs=1e-12)


@given(
    tape=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=30,
    ),
    tau=st.sampled_from([1.0, 5.0, 20.0]),
)
@SET
def test_self_excitation_sequential_property(spark, tape, tau):
    """(n, lam, frac_observed, frac_expected, excitation_ratio) match the
    sequential walk under the Poisson-null closed form; <2 events or zero
    span give the documented NULLs."""
    from ffn_polars_spark.functions.tick_activity import self_excitation

    seen = set()
    rows = [
        r for r in tape if (r[0], r[1]) not in seen and not seen.add((r[0], r[1]))
    ]
    df = spark.createDataFrame(rows, "k string, ts long")
    got = {
        r["k"]: r
        for r in self_excitation(df, ts_col="ts", by="k", tau=tau).collect()
    }
    per: dict = {}
    for k, t in rows:
        per.setdefault(k, []).append(t)
    for k, ts in per.items():
        ts.sort()
        n = len(ts)
        gaps = [b - a for a, b in zip(ts, ts[1:])]
        span = ts[-1] - ts[0]
        r = got[k]
        assert r["n"] == n
        if span <= 0 or n < 2:
            assert r["lam"] is None and r["excitation_ratio"] is None
            continue
        lam = (n - 1) / span
        assert r["lam"] == pytest.approx(lam, rel=1e-12)
        fo = sum(1 for g in gaps if g < tau) / len(gaps)
        fe = 1.0 - math.exp(-lam * tau)
        assert r["frac_observed"] == pytest.approx(fo, abs=1e-12)
        assert r["frac_expected"] == pytest.approx(fe, rel=1e-9)
        if fe > 0:
            assert r["excitation_ratio"] == pytest.approx(fo / fe, rel=1e-9, abs=1e-12)
        else:
            assert r["excitation_ratio"] is None


# ---------------------------------------------------------------------------
# r13 stats battery, wave 3: event-window, stratification, screening, and
# distribution-comparison panels vs direct references.
# ---------------------------------------------------------------------------


@given(
    rets=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.sampled_from([-2.0, -1.0, 0.0, 1.0, 3.0]),
        ),
        min_size=1,
        max_size=30,
    ),
    events=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.integers(min_value=0, max_value=12)),
        min_size=1,
        max_size=8,
        unique=True,
    ),
    window=st.integers(min_value=0, max_value=3),
)
@SET
def test_event_study_direct_car_property(spark, rets, events, window):
    """CAR and n_obs match the direct constant-mean-model walk for any
    return tape and event set — edge-clipped windows (n_obs < 2w+1)
    included; events at positions with no return rows emit nothing."""
    from ffn_polars_spark.operators.evaluation import event_study

    rows = [(k, i, float(v)) for i, (k, v) in enumerate(rets)]
    # per-key dense positions (seq_col contract)
    per: dict = {}
    data = []
    for k, _, v in rows:
        t = len(per.setdefault(k, []))
        per[k].append(v)
        data.append((k, t, v))
    rdf = spark.createDataFrame(data, "k string, t long, r double")
    edf = spark.createDataFrame(list(events), "k string, t long")
    got = {
        (r["k"], r["event_seq"]): r
        for r in event_study(rdf, edf, "k", "t", "r", window=window).collect()
    }
    want = {}
    for k, t0 in events:
        series = per.get(k)
        if not series:
            continue
        mu = sum(series) / len(series)
        obs = [
            series[t] - mu
            for t in range(t0 - window, t0 + window + 1)
            if 0 <= t < len(series)
        ]
        if obs:
            want[(k, t0)] = (sum(obs), len(obs))
    assert set(got) == set(want)
    for key, (car, n_obs) in want.items():
        assert got[key]["n_obs"] == n_obs
        assert got[key]["car"] == pytest.approx(car, rel=1e-9, abs=1e-9)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2", "s3"]),
            st.floats(min_value=-4, max_value=4, allow_nan=False, width=16),
            st.floats(min_value=-4, max_value=4, allow_nan=False, width=16),
        ),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_simpson_check_population_moments_property(spark, rows):
    """Per-stratum and __pooled__ covariance/slope match numpy population
    moments; constant-x strata give NULL slope."""
    import numpy as np

    from ffn_polars_spark.operators.evaluation import simpson_check

    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["stratum"]: r for r in simpson_check(df, "x", "y", "g").collect()}
    groups: dict = {}
    for g, x, y in rows:
        groups.setdefault(g, []).append((x, y))
    groups["__pooled__"] = [(x, y) for _, x, y in rows]
    assert set(got) == set(groups)
    for g, pts in groups.items():
        xs = np.array([x for x, _ in pts])
        ys = np.array([y for _, y in pts])
        cov = float(np.mean((xs - xs.mean()) * (ys - ys.mean())))
        r = got[g]
        assert r["n"] == len(pts)
        assert r["covariance"] == pytest.approx(cov, rel=1e-9, abs=1e-12)
        vx = float(np.var(xs))
        if vx > 0:
            assert r["slope"] == pytest.approx(cov / vx, rel=1e-9, abs=1e-12)
        else:
            assert r["slope"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),
            st.sampled_from([0.0, 0.5, 1.0, 1.0, 2.0, 5.0]),  # f1, ties
            st.sampled_from([0.0, 1.0, 3.0]),  # f2
        ),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_feature_auc_screen_pairwise_definition_property(spark, rows):
    """Each feature's AUC equals the pairwise DEFINITION
    P(score_pos > score_neg) + 0.5*P(equal) — a different formulation
    than the engine's midrank identity; single-class labels give NULL."""
    from ffn_polars_spark.operators.evaluation import feature_auc_screen

    df = spark.createDataFrame(rows, "y int, f1 double, f2 double")
    got = {
        r["feature"]: r
        for r in feature_auc_screen(df, "y", ["f1", "f2"]).collect()
    }
    for feat, idx in (("f1", 1), ("f2", 2)):
        pos = [r[idx] for r in rows if r[0] == 1]
        neg = [r[idx] for r in rows if r[0] == 0]
        r = got[feat]
        assert (r["n_pos"], r["n_neg"]) == (len(pos), len(neg))
        if pos and neg:
            auc = sum(
                1.0 if p > q else (0.5 if p == q else 0.0)
                for p in pos
                for q in neg
            ) / (len(pos) * len(neg))
            assert r["auc"] == pytest.approx(auc, rel=1e-9, abs=1e-12)
        else:
            assert r["auc"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.floats(min_value=-10, max_value=10, allow_nan=False, width=16),
        ),
        min_size=2,
        max_size=40,
    ),
    qs=st.lists(
        st.sampled_from([0.1, 0.25, 0.5, 0.75, 0.9]),
        min_size=1,
        max_size=3,
        unique=True,
    ),
)
@SET
def test_qq_data_numpy_percentile_property(spark, rows, qs):
    """quantile_a/quantile_b match numpy's linear-interpolation
    percentiles per side at any probability grid; an empty side yields
    NULL quantiles for every grid point."""
    import numpy as np

    from ffn_polars_spark.operators.quality import qq_data

    df = spark.createDataFrame(rows, "side string, v double")
    got = {r["q"]: r for r in qq_data(df, "v", "side", "a", "b", quantiles=qs).collect()}
    assert set(got) == {float(q) for q in qs}
    va = [v for s, v in rows if s == "a"]
    vb = [v for s, v in rows if s == "b"]
    for q in qs:
        r = got[float(q)]
        for vals, col in ((va, "quantile_a"), (vb, "quantile_b")):
            if vals:
                want = float(np.percentile(np.array(vals), q * 100, method="linear"))
                assert r[col] == pytest.approx(want, rel=1e-9, abs=1e-12)
            else:
                assert r[col] is None


# ---------------------------------------------------------------------------
# r13 stats battery, wave 4: the microstructure / tail closed forms
# (autocorr, amihud, roll, kyle, half_life, hill) vs direct numpy walks.
# ---------------------------------------------------------------------------


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.sampled_from([1.0, 2.0, 2.0, 3.0, 5.0]),
        ),
        min_size=1,
        max_size=30,
    ),
    max_lag=st.integers(min_value=1, max_value=4),
)
@SET
def test_autocorr_population_moments_property(spark, rows, max_lag):
    """acf at every lag matches the population correlation over the
    aligned (x_t, x_{t-k}) pairs, rounded to 6 dp; short groups emit
    n=0 / NULL rows for out-of-range lags; constant overlaps are NULL."""
    import numpy as np

    from ffn_polars_spark.functions.tick_price import autocorr

    data = [(g, i, float(v)) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, i long, v double")
    got = {
        (r["g"], r["lag"]): r
        for r in autocorr(df, "v", by="g", order_by="i", max_lag=max_lag).collect()
    }
    per: dict = {}
    for g, i, v in data:
        per.setdefault(g, []).append((i, v))
    for g, pts in per.items():
        x = np.array([v for _, v in sorted(pts)])
        for k in range(1, max_lag + 1):
            r = got[(g, k)]
            later, earlier = x[k:], x[:-k] if k <= len(x) else np.array([])
            if k >= len(x):
                assert r["n"] == 0 and r["acf"] is None
                continue
            assert r["n"] == len(later)
            den = float(np.std(later)) * float(np.std(earlier))
            if den != 0:
                cov = float(np.mean((later - later.mean()) * (earlier - earlier.mean())))
                assert r["acf"] == pytest.approx(round(cov / den, 6), abs=2e-6)
            else:
                assert r["acf"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.sampled_from([1.0, 2.0, 4.0, 8.0]),   # price > 0
            st.sampled_from([0.0, 1.0, 3.0]),        # volume (0 allowed)
        ),
        min_size=1,
        max_size=30,
    )
)
@SET
def test_amihud_roll_kyle_sequential_property(spark, rows):
    """amihud_illiquidity, roll_spread, and kyle_lambda all match their
    direct sequential definitions on the same tape — lag restarts at key
    boundaries, zero-dollar events skipped, non-negative serial
    covariance gives NULL roll, zero signed-volume variance gives NULL
    lambda."""
    import numpy as np

    from ffn_polars_spark.functions.tick_price import (
        amihud_illiquidity,
        kyle_lambda,
        roll_spread,
    )

    data = [(g, i, p, v) for i, (g, p, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, i long, p double, v double")
    am = {r["g"]: r for r in amihud_illiquidity(df, "p", "v", by="g", order_by="i").collect()}
    ro = {r["g"]: r for r in roll_spread(df, "p", by="g", order_by="i").collect()}
    ky = {r["g"]: r for r in kyle_lambda(df, "p", "v", by="g", order_by="i").collect()}

    per: dict = {}
    for g, i, p, v in data:
        per.setdefault(g, []).append((i, p, v))
    for g, pts in per.items():
        pts.sort()
        ps = [p for _, p, _ in pts]
        vs = [v for _, _, v in pts]
        # amihud
        illiq = [
            abs(ps[t] / ps[t - 1] - 1) / (ps[t] * vs[t])
            for t in range(1, len(ps))
            if ps[t] * vs[t] > 0
        ]
        r = am[g]
        assert r["n_obs"] == len(illiq)
        if illiq:
            assert r["amihud"] == pytest.approx(1e6 * sum(illiq) / len(illiq), rel=1e-9)
        else:
            assert r["amihud"] is None
        # roll: dp_t vs dp_{t-1}, sample covariance
        dp = [ps[t] - ps[t - 1] for t in range(1, len(ps))]
        pairs = [(dp[t], dp[t - 1]) for t in range(1, len(dp))]
        r = ro[g]
        assert r["n_obs"] == len(pairs)
        if len(pairs) >= 2:
            a = np.array([x for x, _ in pairs])
            b = np.array([y for _, y in pairs])
            cov = float(np.sum((a - a.mean()) * (b - b.mean()))) / (len(pairs) - 1)
            assert r["serial_cov"] == pytest.approx(cov, rel=1e-9, abs=1e-12)
            if cov < 0:
                assert r["roll_spread"] == pytest.approx(2 * math.sqrt(-cov), rel=1e-9)
            else:
                assert r["roll_spread"] is None
        else:
            assert r["roll_spread"] is None
        # kyle: dp vs signed volume (tick-rule direction, first row 0)
        sv = []
        for t in range(len(ps)):
            if t == 0:
                d = 0
            elif ps[t] > ps[t - 1]:
                d = 1
            elif ps[t] < ps[t - 1]:
                d = -1
            else:
                d = 0
            sv.append(d * vs[t])
        kp = [(ps[t] - ps[t - 1], sv[t]) for t in range(1, len(ps))]
        # the operator aggregates over ALL rows (dp NULL on first row is
        # skipped by covar_samp pairwise-deletion; var_samp(sv) uses all)
        r = ky[g]
        svall = np.array(sv, dtype=np.float64)
        if len(svall) >= 2 and float(np.var(svall, ddof=1)) > 0:
            if len(kp) >= 2:
                a = np.array([x for x, _ in kp])
                b = np.array([y for _, y in kp])
                cov = float(np.sum((a - a.mean()) * (b - b.mean()))) / (len(kp) - 1)
                assert r["kyle_lambda"] == pytest.approx(
                    cov / float(np.var(svall, ddof=1)), rel=1e-9, abs=1e-12
                )
        else:
            assert r["kyle_lambda"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.floats(min_value=-5, max_value=5, allow_nan=False, width=16),
        ),
        min_size=2,
        max_size=30,
    )
)
@SET
def test_half_life_ar1_property(spark, rows):
    """(beta, rho, half_life) match the AR(1) population-moment fit;
    half_life is NULL outside 0 < rho < 1 and beta NULL on constant
    lagged series."""
    import numpy as np

    from ffn_polars_spark.functions.tick_price import half_life

    data = [(g, i, float(v)) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "g string, i long, v double")
    got = {r["g"]: r for r in half_life(df, "v", order_by="i", by="g").collect()}
    per: dict = {}
    for g, i, v in data:
        per.setdefault(g, []).append((i, v))
    for g, pts in per.items():
        x = np.array([v for _, v in sorted(pts)])
        if len(x) < 2:
            assert g not in got
            continue
        xp, d = x[:-1], np.diff(x)
        r = got[g]
        assert r["n"] == len(d)
        vp = float(np.var(xp))
        if vp <= 0:
            assert r["beta"] is None
            continue
        beta = float(np.mean((d - d.mean()) * (xp - xp.mean()))) / vp
        assert r["beta"] == pytest.approx(beta, rel=1e-9, abs=1e-12)
        rho = 1.0 + beta
        assert r["rho"] == pytest.approx(rho, rel=1e-9, abs=1e-12)
        if 0 < rho < 1:
            assert r["half_life"] == pytest.approx(-math.log(2) / math.log(rho), rel=1e-9)
        else:
            assert r["half_life"] is None


@given(
    vals=st.lists(
        st.floats(min_value=0.5, max_value=100, allow_nan=False, width=16),
        min_size=1,
        max_size=30,
        unique=True,
    ),
    k=st.integers(min_value=1, max_value=8),
)
@SET
def test_hill_tail_index_order_statistics_property(spark, vals, k):
    """(hill, alpha, x_k1, n_tail) match the order-statistics definition
    H = mean(ln x_(i) - ln x_(k+1)) over the top k; NULL when fewer than
    k+1 positive values or all top-k equal."""
    from ffn_polars_spark.operators.sketch import hill_tail_index

    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    r = hill_tail_index(df, "v", k=k, tie_col="i").collect()[0]
    s = sorted(vals, reverse=True)
    if len(s) < k + 1:
        assert r["hill"] is None and r["alpha"] is None
        return
    xk1 = s[k]
    hill = sum(math.log(x) for x in s[:k]) / k - math.log(xk1)
    assert r["x_k1"] == pytest.approx(xk1)
    assert r["n_tail"] == k
    assert r["hill"] == pytest.approx(hill, rel=1e-9, abs=1e-12)
    if hill > 0:
        assert r["alpha"] == pytest.approx(1.0 / hill, rel=1e-9)
    else:
        assert r["alpha"] is None


# ---------------------------------------------------------------------------
# r13 stats battery, wave 5: distribution-shape panels (variance ratio,
# hurst, omega, capture, tail ratio, benford, gini, hhi) vs direct
# references.
# ---------------------------------------------------------------------------


@given(
    rets=st.lists(
        st.sampled_from([-2.0, -1.0, 0.0, 1.0, 3.0]),
        min_size=1,
        max_size=30,
    ),
    qs=st.sampled_from([(2,), (2, 4), (2, 4, 8)]),
)
@SET
def test_variance_ratio_overlapping_sums_property(spark, rets, qs):
    """VR(q) matches Var(overlapping q-sums)/(q*Var(r)) with sample
    variances over exactly the full-window positions; degenerate inputs
    (constant r, too-short series) yield the documented NULLs."""
    import numpy as np

    from ffn_polars_spark.functions.eod_risk import variance_ratio

    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(rets)], "i long, r double"
    )
    got = {
        r["q"]: r
        for r in variance_ratio(df, "r", order_by="i", qs=qs).collect()
    }
    x = np.array(rets)
    v1 = float(np.var(x, ddof=1)) if len(x) >= 2 else None
    for q in qs:
        sums = [float(x[t - q + 1 : t + 1].sum()) for t in range(q - 1, len(x))]
        r = got[q]
        assert r["n_obs"] == len(sums)
        if v1 and v1 > 0 and len(sums) >= 2:
            vq = float(np.var(np.array(sums), ddof=1))
            assert r["vr"] == pytest.approx(vq / (q * v1), rel=1e-9, abs=1e-12)
        else:
            assert r["vr"] is None


@given(
    rets=st.lists(
        st.sampled_from([-2.0, -1.0, 0.5, 1.0, 3.0]),
        min_size=2,
        max_size=30,
    )
)
@SET
def test_hurst_exponent_aggregated_variance_property(spark, rets):
    """H matches the closed-form regression slope/2 of ln Var(r_q) on
    ln q over the surviving (positive-variance, >=2-point) horizons."""
    import numpy as np

    from ffn_polars_spark.functions.eod_risk import hurst_exponent

    df = spark.createDataFrame(
        [(i, r) for i, r in enumerate(rets)], "i long, r double"
    )
    r = hurst_exponent(df, "r", order_by="i", qs=(2, 4, 8)).collect()[0]
    x = np.array(rets)
    pts = []
    for q in (1, 2, 4, 8):
        sums = [float(x[t - q + 1 : t + 1].sum()) for t in range(q - 1, len(x))]
        if len(sums) >= 2:
            vq = float(np.var(np.array(sums), ddof=1))
            if vq > 0:
                pts.append((math.log(q), math.log(vq)))
    assert r["n_qs"] == len(pts)
    if len(pts) >= 2:
        xs = np.array([a for a, _ in pts])
        ys = np.array([b for _, b in pts])
        vx = float(np.var(xs, ddof=1))
        if vx > 0:
            cov = float(np.sum((xs - xs.mean()) * (ys - ys.mean()))) / (len(pts) - 1)
            assert r["hurst"] == pytest.approx(cov / vx / 2.0, rel=1e-9, abs=1e-12)
        else:
            assert r["hurst"] is None
    else:
        assert r["hurst"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from([-3.0, -1.0, 0.0, 0.5, 2.0]),  # r
            st.sampled_from([-2.0, 0.0, 1.0]),             # bench
        ),
        min_size=1,
        max_size=30,
    ),
    tau=st.sampled_from([0.0, 0.5]),
)
@SET
def test_omega_capture_tail_direct_property(spark, rows, tau):
    """omega_ratio, capture_ratios, and tail_ratio all match their direct
    definitions on one tape — no-loss-mass, regime-never-occurs, and
    zero-lower-percentile cases yield the documented NULLs."""
    import numpy as np

    import ffn_polars_spark as ffn
    from ffn_polars_spark.functions.eod_ratios import capture_ratios

    df = spark.createDataFrame(rows, "r double, b double")
    row = df.agg(
        ffn.eod.omega_ratio("r", threshold=tau).alias("om"),
        ffn.eod.tail_ratio("r").alias("tr"),
    ).collect()[0]
    rs = [a for a, _ in rows]
    gains = sum(max(a - tau, 0.0) for a in rs)
    losses = sum(max(tau - a, 0.0) for a in rs)
    if losses > 0:
        assert row["om"] == pytest.approx(gains / losses, rel=1e-9, abs=1e-12)
    else:
        assert row["om"] is None
    hi = float(np.percentile(np.array(rs), 95, method="linear"))
    lo = float(np.percentile(np.array(rs), 5, method="linear"))
    if lo != 0.0:
        assert row["tr"] == pytest.approx(abs(hi) / abs(lo), rel=1e-9, abs=1e-12)
    else:
        assert row["tr"] is None

    cap = capture_ratios(df, "r", "b").collect()[0]
    for cond, col, ncol in (
        (lambda b: b > 0, "up_capture", "n_up"),
        (lambda b: b < 0, "down_capture", "n_down"),
    ):
        sel = [(a, b) for a, b in rows if cond(b)]
        assert cap[ncol] == len(sel)
        if sel:
            mr = sum(a for a, _ in sel) / len(sel)
            mb = sum(b for _, b in sel) / len(sel)
            if mb != 0:
                assert cap[col] == pytest.approx(mr / mb, rel=1e-9, abs=1e-12)
            else:
                assert cap[col] is None
        else:
            assert cap[col] is None


@given(
    vals=st.lists(
        st.sampled_from([0.5, 1.0, 3.0, 19.0, 42.0, 123.0, 0.007, 900.0]),
        min_size=1,
        max_size=40,
    )
)
@SET
def test_benford_digits_direct_property(spark, vals):
    """Per-digit counts, observed/expected frequencies, and chi2 terms
    match the direct first-significant-digit walk."""
    from collections import Counter

    from ffn_polars_spark.operators.evaluation import benford_digits

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r["digit"]: r for r in benford_digits(df, "v").collect()}
    want = Counter(int(f"{v:e}"[0]) for v in vals)
    assert set(got) == set(want)
    total = sum(want.values())
    for d, n in want.items():
        r = got[d]
        assert r["n"] == n
        obs = n / total
        exp = math.log10(1 + 1 / d)
        assert r["observed_freq"] == pytest.approx(obs, rel=1e-12)
        assert r["expected_freq"] == pytest.approx(exp, rel=1e-12)
        assert r["chi2_term"] == pytest.approx(
            total * (obs - exp) ** 2 / exp, rel=1e-9
        )


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["s1", "s2"]),
            st.sampled_from([0.0, 1.0, 2.0, 5.0, 5.0, 10.0]),
        ),
        min_size=1,
        max_size=30,
    )
)
@SET
def test_gini_and_hhi_direct_property(spark, rows):
    """gini_by_group matches the rank-identity walk (ties in value give
    the same sum under any total order) and hhi_concentration matches
    the direct share-of-squares; zero totals yield NULL."""
    from collections import defaultdict

    from ffn_polars_spark.operators.quality import gini_by_group, hhi_concentration

    data = [(g, i, v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "source string, doc_id long, v double")
    gini = {r["source"]: r for r in gini_by_group(df, "v").collect()}
    per = defaultdict(list)
    for g, i, v in data:
        per[g].append(v)
    for g, vs in per.items():
        vs.sort()
        n, tot = len(vs), sum(vs)
        r = gini[g]
        assert r["n"] == n and r["total"] == pytest.approx(tot)
        if tot > 0:
            want = 2 * sum((i + 1) * v for i, v in enumerate(vs)) / (n * tot) - (n + 1) / n
            assert r["gini"] == pytest.approx(want, rel=1e-9, abs=1e-12)
        else:
            assert r["gini"] is None

    # hhi: entity = doc_id (each row an entity), grouped by source
    hhi = {r["source"]: r for r in hhi_concentration(df, "v", "doc_id", "source").collect()}
    for g, vs in per.items():
        tot = sum(vs)
        r = hhi[g]
        assert r["n_entities"] == len(vs)
        if tot != 0:
            want = sum(v * v for v in vs) / (tot * tot)
            assert r["hhi"] == pytest.approx(want, rel=1e-9, abs=1e-12)
        else:
            assert r["hhi"] is None


# ---------------------------------------------------------------------------
# r13 stats battery, wave 6: ranking metrics, drift distances, rank
# correlation, graph ops, rolling panels, and quote-aware classification
# vs independent references (numpy ECDFs, pandas rolling/rank, naive
# O(n^2)/sequential walks). Domains are degenerate-biased: ties, empty
# sides, constant windows, zero variance.
# ---------------------------------------------------------------------------


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from([0.0, 1.0, 1.0, 2.5, 7.0]),  # value (tie-heavy)
            st.sampled_from(["a", "a", "b"]),             # side (b can be empty)
        ),
        min_size=1,
        max_size=30,
    )
)
@SET
def test_ks_wasserstein_ecdf_property(spark, rows):
    """ks_drift and wasserstein_distance match the numpy ECDF sup-gap and
    integrated gap; an empty side yields NULL statistics (not a throw)."""
    from ffn_polars_spark.operators.quality import ks_drift, wasserstein_distance

    df = spark.createDataFrame(rows, "v double, s string")
    ks = ks_drift(df, "v", "s", "a", "b").collect()[0]
    w1 = wasserstein_distance(df, "v", "s", "a", "b").collect()[0]

    xa = sorted(v for v, s in rows if s == "a")
    xb = sorted(v for v, s in rows if s == "b")
    xs = sorted(set(xa) | set(xb))
    assert ks["n_a"] == len(xa) and ks["n_b"] == len(xb)
    assert w1["n_values"] == (len(xs) if xs else None) or len(xs) <= 1
    if xa and xb:
        gaps = [
            abs(
                sum(1 for v in xa if v <= x) / len(xa)
                - sum(1 for v in xb if v <= x) / len(xb)
            )
            for x in xs
        ]
        assert ks["ks_stat"] == pytest.approx(max(gaps), rel=1e-9, abs=1e-12)
        want_w1 = sum(
            g * (xs[i + 1] - xs[i]) for i, g in enumerate(gaps[:-1])
        )
        if len(xs) >= 2:
            assert w1["w1"] == pytest.approx(want_w1, rel=1e-9, abs=1e-12)
        else:
            assert w1["w1"] is None  # single distinct value: no gaps
    else:
        assert ks["ks_stat"] is None
        assert w1["w1"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from([0.0, 1.0, 1.0, 3.0]),   # x, tie-heavy
            st.sampled_from([-1.0, 0.0, 2.0, 2.0]),  # y
        ),
        min_size=2,
        max_size=25,
    )
)
@SET
def test_spearman_corr_pandas_property(spark, rows):
    """spearman_corr (Pearson on midranks) matches pandas' tie-adjusted
    Spearman; a constant side yields NULL."""
    import pandas as pd

    from ffn_polars_spark.operators.evaluation import spearman_corr

    df = spark.createDataFrame(rows, "x double, y double")
    got = spearman_corr(df, "x", "y").collect()[0]
    pdf = pd.DataFrame(rows, columns=["x", "y"])
    # Spearman = Pearson on midranks; pandas .corr(method="spearman")
    # imports scipy (absent here), so rank with pandas and correlate with
    # numpy sample moments
    rx = pdf["x"].rank(method="average").to_numpy()
    ry = pdf["y"].rank(method="average").to_numpy()
    assert got["n"] == len(rows)
    if pdf["x"].nunique() > 1 and pdf["y"].nunique() > 1:
        n = len(rows)
        cov = float(((rx - rx.mean()) * (ry - ry.mean())).sum()) / (n - 1)
        den = float(rx.std(ddof=1)) * float(ry.std(ddof=1))
        assert got["spearman"] == pytest.approx(cov / den, rel=1e-9, abs=1e-12)
    else:
        assert got["spearman"] is None


@given(
    rels=st.lists(st.sampled_from([0, 0, 1, 2]), min_size=1, max_size=15),
    scores=st.lists(st.sampled_from([0.1, 0.5, 0.5, 0.9]), min_size=15, max_size=15),
    k=st.sampled_from([1, 3, 10]),
)
@SET
def test_ranking_metrics_naive_property(spark, rels, scores, k):
    """ndcg_at_k / mrr_at_k / pr_at_k match a plain Python ranking walk
    under score ties broken by a unique id column."""
    import math as m

    from ffn_polars_spark.operators.evaluation import mrr_at_k, ndcg_at_k, pr_at_k

    rows = [("q", float(scores[i]), int(r), i) for i, r in enumerate(rels)]
    df = spark.createDataFrame(rows, "q string, score double, rel int, id long")

    order = sorted(rows, key=lambda t: (-t[1], t[3]))  # score desc, id asc
    ideal = sorted(rows, key=lambda t: (-t[2], t[3]))  # rel desc, id asc

    nd = ndcg_at_k(df, "q", "score", "rel", k=k, tie_col="id").collect()[0]
    dcg = sum(t[2] / m.log2(i + 2) for i, t in enumerate(order[:k]))
    idcg = sum(t[2] / m.log2(i + 2) for i, t in enumerate(ideal[:k]))
    if idcg > 0:
        assert nd["ndcg"] == pytest.approx(dcg / idcg, rel=1e-9, abs=1e-12)
    else:
        assert nd["ndcg"] is None

    mr = mrr_at_k(df, "q", "score", "rel", k=k, tie_col="id").collect()[0]
    first = next((i + 1 for i, t in enumerate(order[:k]) if t[2] > 0), None)
    if first is not None:
        assert mr["first_rel_rank"] == first
        assert mr["rr"] == pytest.approx(1.0 / first, rel=1e-9, abs=1e-12)
    else:
        assert mr["first_rel_rank"] is None and mr["rr"] == 0.0

    pr = {
        r["k"]: r
        for r in pr_at_k(
            df, "score", "rel", ks=(1, 3, 10), tie_col="id"
        ).collect()
    }
    n = len(rows)
    npos = sum(1 for t in rows if t[2] > 0)
    cuts = sorted({c for c in (1, 3, 10) if c <= n} | ({n} if n < 10 else set()))
    assert set(pr) == set(cuts)
    for c in cuts:
        tp = sum(1 for t in order[:c] if t[2] > 0)
        assert pr[c]["precision"] == pytest.approx(tp / c, rel=1e-9, abs=1e-12)
        if npos > 0:
            assert pr[c]["recall"] == pytest.approx(tp / npos, rel=1e-9, abs=1e-12)
        else:
            assert pr[c]["recall"] is None
        assert pr[c]["n_pos"] == npos


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 4)),
        min_size=1,
        max_size=12,
    )
)
@SET
def test_pagerank_numpy_replay_property(spark, edges):
    """pagerank matches a plain-Python replay of the damped recurrence
    (dedup edges, dangling mass redistributed uniformly, 15 rounds)."""
    from ffn_polars_spark.operators.graph import pagerank
    from ffn_polars_spark.pins import release_pins

    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r for r in pagerank(df, iterations=15).collect()}
    release_pins()

    e = sorted(set(edges))
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    n = len(nodes)
    outdeg = {u: sum(1 for a, _ in e if a == u) for u in nodes}
    r = {u: 1.0 / n for u in nodes}
    d = 0.85
    for _ in range(15):
        dang = sum(r[u] for u in nodes if outdeg[u] == 0)
        nxt = {}
        for v in nodes:
            inc = sum(r[u] / outdeg[u] for u, w in e if w == v)
            nxt[v] = (1.0 - d) / n + d * (inc + dang / n)
        r = nxt
    for u in nodes:
        assert got[u]["out_degree"] == outdeg[u]
        assert got[u]["rank"] == pytest.approx(r[u], rel=1e-9, abs=1e-12)


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 3)),
        min_size=1,
        max_size=20,
    )
)
@SET
def test_pareto_front_dominance_property(spark, pts):
    """pareto_front's sweep matches the O(n^2) dominance definition on
    exact-duplicate-collapsed points."""
    from ffn_polars_spark.operators.quality import pareto_front

    rows = [(float(x), float(y), i) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "x double, y double, id long")
    got = {(r["x"], r["y"]) for r in pareto_front(df, "x", "y", id_col="id").collect()}

    uniq = sorted({(x, y) for x, y, _ in rows})
    want = {
        (x, y)
        for x, y in uniq
        if not any(
            (a >= x and b >= y) and (a > x or b > y) for a, b in uniq
        )
    }
    assert got == want


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 5)),
        min_size=1,
        max_size=14,
    )
)
@SET
def test_triangle_count_naive_property(spark, edges):
    """triangle_count matches itertools triangle enumeration: per-node
    counts, degrees, and the clustering coefficient contract."""
    from itertools import combinations

    from ffn_polars_spark.operators.graph import triangle_count
    from ffn_polars_spark.pins import release_pins

    df = spark.createDataFrame(edges, "src int, dst int")
    got = {r["node"]: r for r in triangle_count(df).collect()}
    release_pins()

    und = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    nodes = sorted({u for e in und for u in e})
    adj = {u: {v for a, b in und for v in (a, b) if u in (a, b) and v != u} for u in nodes}
    tri = {u: 0 for u in nodes}
    for a, b, c in combinations(nodes, 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            tri[a] += 1; tri[b] += 1; tri[c] += 1
    if not und:
        assert got == {}
        return
    assert set(got) == set(nodes)
    for u in nodes:
        d = len(adj[u])
        assert got[u]["degree"] == d
        assert got[u]["n_triangles"] == tri[u]
        if d >= 2:
            assert got[u]["clustering"] == pytest.approx(
                2.0 * tri[u] / (d * (d - 1)), rel=1e-9, abs=1e-12
            )
        else:
            assert got[u]["clustering"] is None


@given(
    ys=st.lists(st.sampled_from([0.0, 0.0, 1.0, -2.0, 5.0]), min_size=1, max_size=20),
    window=st.sampled_from([2, 3, 5]),
)
@SET
def test_rolling_ops_pandas_property(spark, ys, window):
    """rolling_{median,sharpe,zscore,beta,corr} match per-window numpy
    recomputation (full windows only, constant windows NULL)."""
    import math as m

    import numpy as np

    import ffn_polars_spark as ffn

    xs = [float(i % 3) for i in range(len(ys))]  # tie-heavy regressor
    df = spark.createDataFrame(
        [(i, y, x) for i, (y, x) in enumerate(zip(ys, xs))],
        "i long, y double, x double",
    )
    over = Over(order_by="i")
    out = df.select(
        "i",
        ffn.eod.rolling_median("y", window, over=over).alias("med"),
        ffn.eod.rolling_sharpe("y", window, over=over, n=252).alias("sh"),
        ffn.eod.rolling_zscore("y", window, over=over).alias("z"),
        ffn.eod.rolling_beta("y", "x", window, over=over).alias("beta"),
        ffn.eod.rolling_corr("y", "x", window, over=over).alias("corr"),
    ).orderBy("i").collect()

    for j, r in enumerate(out):
        if j < window - 1:
            for c in ("med", "sh", "z", "beta", "corr"):
                assert r[c] is None
            continue
        wy = np.array(ys[j - window + 1 : j + 1])
        wx = np.array(xs[j - window + 1 : j + 1])
        assert r["med"] == pytest.approx(
            float(np.percentile(wy, 50, method="linear")), rel=1e-9, abs=1e-12
        )
        sd = float(np.std(wy, ddof=1))
        if sd > 0:
            assert r["sh"] == pytest.approx(
                m.sqrt(252.0) * float(wy.mean()) / sd, rel=1e-9, abs=1e-12
            )
            assert r["z"] == pytest.approx(
                (ys[j] - float(wy.mean())) / sd, rel=1e-9, abs=1e-12
            )
        else:
            assert r["sh"] is None and r["z"] is None
        vx = float(np.var(wx))  # population
        if vx != 0:
            cov_pop = float(((wy - wy.mean()) * (wx - wx.mean())).mean())
            assert r["beta"] == pytest.approx(cov_pop / vx, rel=1e-9, abs=1e-12)
        else:
            assert r["beta"] is None
        den = float(np.std(wy, ddof=1)) * float(np.std(wx, ddof=1))
        if den > 0:
            cov_s = float(((wy - wy.mean()) * (wx - wx.mean())).sum()) / (window - 1)
            assert r["corr"] == pytest.approx(cov_s / den, rel=1e-9, abs=1e-12)
        else:
            assert r["corr"] is None


@given(
    trades=st.lists(
        st.tuples(st.integers(0, 20), st.sampled_from([9.0, 10.0, 10.0, 11.0])),
        min_size=1,
        max_size=15,
        unique_by=lambda t: t[0],
    ),
    quotes=st.lists(
        st.tuples(st.integers(0, 20), st.sampled_from([(9.5, 10.5), (10.0, 10.0), (8.0, 12.0)])),
        min_size=0,
        max_size=8,
        unique_by=lambda t: t[0],
    ),
)
@SET
def test_lee_ready_sequential_property(spark, trades, quotes):
    """lee_ready matches the sequential walk: mid from the latest quote
    at-or-before each trade, tick-rule fallback at the mid / before any
    quote (first trade 0)."""
    from ffn_polars_spark.functions.tick_direction import lee_ready

    tdf = spark.createDataFrame(
        [(int(t), float(p)) for t, p in trades], "ts_ns long, price double"
    )
    qdf = spark.createDataFrame(
        [(int(t), float(a), float(b)) for t, (b, a) in quotes],
        "ts_ns long, ask double, bid double",
    )
    got = {
        r["ts_ns"]: r
        for r in lee_ready(tdf, qdf).select("ts_ns", "mid", "lr_direction").collect()
    }

    qs = sorted((t, (b + a) / 2.0) for t, (b, a) in quotes)
    seq = sorted(trades)
    prev_p = None
    for t, p in seq:
        mids = [m for qt, m in qs if qt <= t]
        mid = mids[-1] if mids else None
        tick = 0 if prev_p is None else (1 if p > prev_p else (-1 if p < prev_p else 0))
        want = tick if (mid is None or p == mid) else (1 if p > mid else -1)
        if mid is None:
            assert got[t]["mid"] is None
        else:
            assert got[t]["mid"] == pytest.approx(mid, rel=1e-12)
        assert got[t]["lr_direction"] == want
        prev_p = p


# ---------------------------------------------------------------------------
# r13 stats battery, wave 7: calibration, CAPM attribution, microstructure
# estimators, scaling transforms, sessions/baskets vs direct references.
# ---------------------------------------------------------------------------


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from([0.0, 0.2, 0.2, 0.7, 1.0]),  # score, tie-heavy
            st.sampled_from([0, 1]),
        ),
        min_size=1,
        max_size=25,
    ),
    bins=st.sampled_from([1, 4]),
)
@SET
def test_calibration_ece_binning_property(spark, rows, bins):
    """calibration_bins + expected_calibration_error match the Python
    binning walk, including the zero-width (constant-score) range."""
    from ffn_polars_spark.operators.evaluation import (
        calibration_bins,
        expected_calibration_error,
    )

    df = spark.createDataFrame(rows, "score double, label int")
    got = {
        r["bin"]: r for r in calibration_bins(df, "score", "label", bins=bins).collect()
    }
    lo = min(s for s, _ in rows)
    hi = max(s for s, _ in rows)
    width = hi - lo
    want = {}
    for s, y in rows:
        b = min(int((s - lo) / width * bins), bins - 1) if width > 0 else 0
        want.setdefault(b, []).append((s, y))
    assert set(got) == set(want)
    for b, members in want.items():
        assert got[b]["n"] == len(members)
        assert got[b]["mean_score"] == pytest.approx(
            sum(s for s, _ in members) / len(members), rel=1e-9, abs=1e-12
        )
        assert got[b]["pos_rate"] == pytest.approx(
            sum(y for _, y in members) / len(members), rel=1e-9, abs=1e-12
        )

    e = expected_calibration_error(df, "score", "label", bins=bins).collect()[0]
    gaps = {
        b: abs(
            sum(y for _, y in m) / len(m) - sum(s for s, _ in m) / len(m)
        )
        for b, m in want.items()
    }
    n_tot = len(rows)
    ece = sum(gaps[b] * len(want[b]) for b in want) / n_tot
    assert e["ece"] == pytest.approx(ece, rel=1e-9, abs=1e-12)
    assert e["mce"] == pytest.approx(max(gaps.values()), rel=1e-9, abs=1e-12)
    assert e["n"] == n_tot


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from([None, -0.02, 0.0, 0.01, 0.05]),  # r
            st.sampled_from([None, 0.0, 0.01, 0.01, -0.03]),  # bench
        ),
        min_size=1,
        max_size=25,
    )
)
# constant returns: numpy's two-pass variance of [0.05] * 3 is 7.2e-35,
# Spark's is exactly 0, and kelly_fraction is NULL
@example(rows=[(0.05, None)] * 3)
@SET
def test_jensen_kelly_moments_property(spark, rows):
    """jensen_alpha's beta/alpha/treynor and kelly_fraction match numpy
    population/sample moments under NULL-pair alignment; constant
    benchmarks and zero variances yield the documented NULLs. Equal values
    have zero variance, which the reference takes as exactly 0 (numpy's
    two-pass variance can leave a rounding residue)."""
    import numpy as np

    import ffn_polars_spark as ffn
    from ffn_polars_spark.functions.eod_ratios import jensen_alpha

    df = spark.createDataFrame(rows, "r double, b double")
    got = jensen_alpha(df, "r", "b", rf=0.0, n=252).collect()[0]
    ok = [(a, c) for a, c in rows if a is not None and c is not None]
    assert got["n_obs"] == len(ok)
    if ok:
        ra = np.array([a for a, _ in ok])
        bb = np.array([c for _, c in ok])
        vb = 0.0 if len(set(bb)) == 1 else float(np.var(bb))  # population
        if vb > 0:
            beta = float(((ra - ra.mean()) * (bb - bb.mean())).mean()) / vb
            assert got["beta"] == pytest.approx(beta, rel=1e-9, abs=1e-12)
            alpha = (float(ra.mean()) - beta * float(bb.mean())) * 252.0
            assert got["alpha"] == pytest.approx(alpha, rel=1e-9, abs=1e-12)
            # treynor divides by beta, so near-zero betas amplify the
            # single-pass vs two-pass co-moment fp difference by ~1/beta;
            # check it against Spark's OWN beta (internal consistency),
            # which is itself pinned to numpy above
            if got["beta"] == 0.0:
                assert got["treynor_ratio"] is None
            else:
                assert got["treynor_ratio"] == pytest.approx(
                    float(ra.mean()) * 252.0 / got["beta"], rel=1e-9
                )
        else:
            assert got["beta"] is None and got["alpha"] is None
    else:
        assert got["beta"] is None

    kf = df.agg(ffn.eod.kelly_fraction("r").alias("k")).collect()[0]
    rs = [a for a, _ in rows if a is not None]
    if len(rs) >= 2:
        var = 0.0 if len(set(rs)) == 1 else float(np.var(np.array(rs), ddof=1))
        if var > 0:
            assert kf["k"] == pytest.approx(
                float(np.mean(rs)) / var, rel=1e-9, abs=1e-12
            )
        else:
            assert kf["k"] is None
    else:
        assert kf["k"] is None


@given(
    bars=st.lists(
        st.tuples(
            st.sampled_from([0.0, 9.0, 10.0, 10.0, 12.0]),  # low (0 = degenerate)
            st.sampled_from([0.0, 1.0, 2.0]),               # high premium
        ),
        min_size=1,
        max_size=12,
    )
)
@SET
def test_corwin_schultz_pair_walk_property(spark, bars):
    """corwin_schultz matches the per-pair closed form; non-positive lows
    drop the pair (never a spurious zero-spread), last bar drops."""
    import math as m

    from ffn_polars_spark.functions.tick_bars import corwin_schultz

    rows = [(i, lo + prem, lo) for i, (lo, prem) in enumerate(bars)]
    df = spark.createDataFrame(rows, "bar_ts long, high double, low double")
    got = corwin_schultz(df).collect()[0]

    k = 3.0 - 2.0 * m.sqrt(2.0)
    spreads = []
    for (h, l), (h2, l2) in zip(
        [(h, l) for _, h, l in rows], [(h, l) for _, h, l in rows][1:]
    ):
        if l <= 0 or l2 <= 0:
            continue
        beta = m.log(h / l) ** 2 + m.log(h2 / l2) ** 2
        gamma = m.log(max(h, h2) / min(l, l2)) ** 2
        alpha = (m.sqrt(2 * beta) - m.sqrt(beta)) / k - m.sqrt(gamma / k)
        s = 2 * (m.exp(alpha) - 1) / (1 + m.exp(alpha))
        spreads.append(max(s, 0.0))
    assert got["n_pairs"] == len(spreads)
    if spreads:
        assert got["cs_spread"] == pytest.approx(
            sum(spreads) / len(spreads), rel=1e-9, abs=1e-12
        )
    else:
        assert got["cs_spread"] is None


@given(
    ps=st.lists(
        st.sampled_from([0.0, 5.0, 10.0, 10.0, 20.0]),  # price (0 = log-undefined)
        min_size=1,
        max_size=20,
    )
)
@SET
def test_bipower_variation_walk_property(spark, ps):
    """bipower_variation's RV/BV/jump_share match the sequential log-return
    walk; non-positive prices NULL their returns and drop from the sums."""
    import math as m

    from ffn_polars_spark.functions.tick_price import bipower_variation

    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(ps)], "i long, price double"
    )
    got = bipower_variation(df, "price", order_by="i").collect()[0]

    logs = [m.log(p) if p > 0 else None for p in ps]
    rets = [None] + [
        (logs[i] - logs[i - 1])
        if logs[i] is not None and logs[i - 1] is not None
        else None
        for i in range(1, len(ps))
    ]
    valid = [r for r in rets if r is not None]
    rv = sum(r * r for r in valid)
    bv_terms = [
        abs(rets[i]) * abs(rets[i - 1])
        for i in range(1, len(rets))
        if rets[i] is not None and rets[i - 1] is not None
    ]
    bv = (m.pi / 2.0) * sum(bv_terms)
    assert got["n"] == len(valid)
    assert got["rv"] == pytest.approx(rv, rel=1e-9, abs=1e-12) or (
        got["rv"] is None and not valid
    )
    if valid:
        assert got["bv"] == pytest.approx(bv, rel=1e-9, abs=1e-12) or (
            got["bv"] is None and not bv_terms
        )
        if rv > 0:
            assert got["jump_share"] == pytest.approx(
                max(rv - bv, 0.0) / rv if got["bv"] is not None else 1.0,
                rel=1e-9,
                abs=1e-12,
            ) or got["bv"] is None
        else:
            assert got["jump_share"] is None


@given(
    vals=st.lists(
        st.sampled_from([0.0, 0.0, 1.0, 5.0, -3.0, 100.0]),
        min_size=1,
        max_size=25,
    )
)
@SET
def test_scaling_transforms_numpy_property(spark, vals):
    """winsorize / feature_scale / quantile_transform match numpy
    percentiles, moments, and the Hazen midrank positions."""
    import numpy as np
    import pandas as pd

    from ffn_polars_spark.operators.sketch import (
        feature_scale,
        quantile_transform,
        winsorize,
    )

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v double")
    x = np.array(vals)

    wz = {r["id"]: r["v_winsorized"] for r in winsorize(df, "v", lower=0.1, upper=0.9).collect()}
    lo = float(np.percentile(x, 10, method="linear"))
    hi = float(np.percentile(x, 90, method="linear"))
    for i, v in rows:
        assert wz[i] == pytest.approx(min(max(v, lo), hi), rel=1e-9, abs=1e-12)

    fs = {r["id"]: r for r in feature_scale(df, "v").collect()}
    mu = float(x.mean())
    sd = float(x.std(ddof=1)) if len(x) >= 2 else None
    rng = float(x.max() - x.min())
    for i, v in rows:
        if sd and sd > 0:
            assert fs[i]["v_zscore"] == pytest.approx((v - mu) / sd, abs=1.5e-6)
        else:
            assert fs[i]["v_zscore"] is None
        if rng != 0:
            assert fs[i]["v_minmax"] == pytest.approx(
                (v - float(x.min())) / rng, abs=1.5e-6
            )
        else:
            assert fs[i]["v_minmax"] is None

    qt = {r["id"]: r["v_quantile"] for r in quantile_transform(df, "v").collect()}
    mid = pd.Series(vals).rank(method="average")
    n = len(vals)
    for i, v in rows:
        assert qt[i] == pytest.approx((float(mid[i]) - 0.5) / n, rel=1e-9, abs=1e-12)


@given(
    trades=st.lists(
        st.tuples(
            st.sampled_from([9.0, 10.0, 10.0, 11.0]),  # price
            st.sampled_from([1.0, 4.0, 10.0]),          # volume
        ),
        min_size=1,
        max_size=20,
    ),
    vpb=st.sampled_from([5.0, 12.0]),
)
@SET
def test_vpin_bucket_walk_property(spark, trades, vpb):
    """vpin matches the sequential volume-bucket walk: tick-rule signs,
    whole-trade bucket assignment on the pre-trade cumulative volume."""
    from ffn_polars_spark.functions.tick_bars import vpin

    rows = [(i, p, v) for i, (p, v) in enumerate(trades)]
    df = spark.createDataFrame(rows, "ts long, price double, volume double")
    got = vpin(df, "ts", "price", "volume", volume_per_bucket=vpb).collect()[0]

    cum = 0.0
    prev_p = None
    buckets = {}
    for _, p, v in rows:
        d = 0 if prev_p is None else (1 if p > prev_p else (-1 if p < prev_p else 0))
        b = int(cum // vpb)
        imb, vol = buckets.get(b, (0.0, 0.0))
        buckets[b] = (imb + d * v, vol + v)
        cum += v
        prev_p = p
    tox = [abs(i) / v for i, v in buckets.values() if v > 0]
    assert got["n_buckets"] == len(buckets)
    assert got["total_volume"] == pytest.approx(cum, rel=1e-12)
    if tox:
        assert got["vpin"] == pytest.approx(sum(tox) / len(tox), rel=1e-9, abs=1e-12)
    else:
        assert got["vpin"] is None


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 40),                       # ts
            st.sampled_from(["ad", "email", "web"]),  # channel
            st.sampled_from([0, 0, 0, 1]),            # is conversion
            st.sampled_from([0.0, 5.0, 10.0]),        # value
        ),
        min_size=1,
        max_size=18,
        unique_by=lambda t: t[0],
    ),
    gap=st.sampled_from([5, 100]),
)
@SET
def test_attribution_session_walk_property(spark, events, gap):
    """attribution matches the sequential sessionize + first/last-touch
    walk, including convert-on-open (NULL last_touch) sessions."""
    from ffn_polars_spark.operators.sessions import attribution

    rows = [("u", t, c, bool(k), v) for t, c, k, v in events]
    df = spark.createDataFrame(
        rows, "key string, ts long, channel string, conv boolean, value double"
    )
    got = {
        r["session_id"]: r
        for r in attribution(df, "ts", "key", "channel", "conv", "value", gap).collect()
    }

    seq = sorted(events)
    sessions = []
    for i, (t, c, k, v) in enumerate(seq):
        if i == 0 or t - seq[i - 1][0] > gap:
            sessions.append([])
        sessions[-1].append((t, c, k, v))
    assert set(got) == set(range(len(sessions)))
    for sid, ev in enumerate(sessions):
        r = got[sid]
        assert r["first_touch"] == ev[0][1]
        conv_ts = next((t for t, _, k, _ in ev if k), None)
        if conv_ts is not None:
            pre = [(t, c) for t, c, _, _ in ev if t < conv_ts]
            assert r["last_touch"] == (pre[-1][1] if pre else None)
        else:
            assert r["last_touch"] is None
        assert r["conversion_value"] == pytest.approx(
            sum(v for _, _, k, v in ev if k), rel=1e-12
        )
        assert r["n_events"] == len(ev)


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 5), st.sampled_from(["a", "b", "c", "d"])),
        min_size=1,
        max_size=20,
    )
)
@SET
def test_market_basket_naive_property(spark, pairs):
    """market_basket matches the itertools pair walk: distinct
    (basket, item) first, exact counts, support/confidence/lift."""
    from itertools import combinations

    from ffn_polars_spark.operators.funnel import market_basket

    df = spark.createDataFrame(pairs, "basket int, item string")
    got = {
        (r["item_a"], r["item_b"]): r
        for r in market_basket(df, "basket", "item").collect()
    }

    bi = set(pairs)
    baskets = {}
    for b, i in bi:
        baskets.setdefault(b, set()).add(i)
    n_b = len(baskets)
    singles = {}
    for b, items in baskets.items():
        for i in items:
            singles[i] = singles.get(i, 0) + 1
    co = {}
    for items in baskets.values():
        for x, y in combinations(sorted(items), 2):
            co[(x, y)] = co.get((x, y), 0) + 1
    assert set(got) == set(co)
    for (x, y), n_co in co.items():
        r = got[(x, y)]
        assert r["n_co"] == n_co
        assert r["support"] == pytest.approx(n_co / n_b, rel=1e-12)
        assert r["confidence_a"] == pytest.approx(n_co / singles[x], rel=1e-12)
        assert r["confidence_b"] == pytest.approx(n_co / singles[y], rel=1e-12)
        assert r["lift"] == pytest.approx(
            n_co * n_b / (singles[x] * singles[y]), rel=1e-12
        )


@given(
    trades=st.lists(
        st.tuples(
            st.integers(0, 30),
            st.sampled_from([0.0, 9.0, 10.0, 10.0, 11.0]),  # price (0 degenerate)
            st.sampled_from([0.0, 1.0, 5.0]),               # volume (0 degenerate)
        ),
        min_size=1,
        max_size=15,
        unique_by=lambda t: t[0],
    )
)
@SET
def test_execution_slippage_walk_property(spark, trades):
    """execution_slippage matches the sequential walk: one bucket here
    (bucket_ns wide), tick-rule signs, vwap NULL on zero bucket volume,
    slippage NULL on zero vwap."""
    from ffn_polars_spark.functions.tick_flow import execution_slippage

    rows = [(t, p, v) for t, p, v in trades]
    df = spark.createDataFrame(rows, "ts_ns long, price double, volume double")
    got = {
        r["ts_ns"]: r
        for r in execution_slippage(
            df, "price", "volume", "ts_ns", bucket_ns=1_000_000
        ).collect()
    }

    seq = sorted(rows)
    tot_v = sum(v for _, _, v in seq)
    vwap = sum(p * v for _, p, v in seq) / tot_v if tot_v != 0 else None
    prev_p = None
    for t, p, v in seq:
        d = 0 if prev_p is None else (1 if p > prev_p else (-1 if p < prev_p else 0))
        r = got[t]
        if vwap is None:
            assert r["vwap"] is None and r["slippage"] is None
        else:
            assert r["vwap"] == pytest.approx(vwap, rel=1e-12)
            if vwap != 0:
                assert r["slippage"] == pytest.approx(
                    d * (p - vwap) / vwap, rel=1e-9, abs=1e-12
                )
            else:
                assert r["slippage"] is None
        prev_p = p


@given(
    ticks=st.lists(
        st.tuples(st.integers(0, 100), st.sampled_from([5.0, 10.0, 10.0, 20.0])),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    )
)
@SET
def test_rv_signature_grid_walk_property(spark, ticks):
    """rv_signature matches the last-tick grid-sampling walk at each
    interval (log returns over bucket closes)."""
    import math as m

    from ffn_polars_spark.functions.tick_price import rv_signature

    df = spark.createDataFrame(list(ticks), "ts long, price double")
    intervals = [7, 25]
    got = {
        r["interval_ns"]: r
        for r in rv_signature(df, "price", "ts", intervals=intervals).collect()
    }
    seq = sorted(ticks)
    for iv in intervals:
        closes = {}
        for t, p in seq:
            closes[t // iv] = p  # last tick in bucket wins (ts-sorted)
        cs = [closes[b] for b in sorted(closes)]
        rets = [m.log(cs[i] / cs[i - 1]) for i in range(1, len(cs))]
        r = got[iv]
        assert r["n_buckets"] == len(cs)
        if rets:
            assert r["rv"] == pytest.approx(
                sum(x * x for x in rets), rel=1e-9, abs=1e-12
            )
        else:
            assert r["rv"] is None


# ---------------------------------------------------------------------------
# r13 stats battery, wave 8: the text/corpus scoring family vs plain
# Python Counter/regex references — entropy, Zipf, JSD, unigram/bigram
# LM scores, PMI, OOV, Flesch, BM25. Documents are degenerate-biased:
# empty strings, whitespace-only, punctuation-only, heavy repetition.
# ---------------------------------------------------------------------------

_W8_DOCS = ["", "   ", "the the the", "a b", "the quick fox.", "b b a!?",
            "x", "the a", "fox fox quick the"]


def _pytok(text):
    import re

    t = text.lower().strip()
    return [w for w in re.split(r"\s+", t) if w != ""]


@given(docs=st.lists(st.sampled_from(_W8_DOCS), min_size=1, max_size=8))
@SET
def test_doc_entropy_counter_property(spark, docs):
    """doc_entropy (word and char units) matches the Counter identity
    H = ln N - sum(c ln c)/N; empty docs are absent."""
    import math as m
    from collections import Counter

    from ffn_polars_spark.operators.text import doc_entropy

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for unit in ("word", "char"):
        got = {r["doc_id"]: r for r in doc_entropy(df, unit=unit).collect()}
        for i, d in rows:
            units = _pytok(d) if unit == "word" else [c for c in d if c != ""]
            if not units:
                assert i not in got
                continue
            c = Counter(units)
            n = sum(c.values())
            h = m.log(n) - sum(v * m.log(v) for v in c.values()) / n
            assert got[i]["entropy"] == pytest.approx(h, rel=1e-9, abs=1e-12)
            assert got[i]["n_units"] == n
            assert got[i]["n_distinct"] == len(c)


@given(docs=st.lists(st.sampled_from(_W8_DOCS), min_size=1, max_size=8))
@SET
def test_zipf_slope_rank_regression_property(spark, docs):
    """zipf_slope matches the (freq desc, token asc)-ranked OLS of ln f
    on ln rank with numpy sample moments."""
    import math as m
    from collections import Counter

    import numpy as np

    from ffn_polars_spark.operators.text import zipf_slope

    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "doc_id long, text string")
    got = zipf_slope(df).collect()
    c = Counter(t for d in docs for t in _pytok(d))
    if not c:
        assert got == [] or got[0]["vocab_size"] in (0, None)
        return
    r = got[0]
    ranked = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))
    lr = np.array([m.log(i + 1) for i in range(len(ranked))])
    lf = np.array([m.log(f) for _, f in ranked])
    assert r["vocab_size"] == len(ranked)
    if len(ranked) >= 2 and float(np.var(lr, ddof=1)) > 0:
        cov = float(((lr - lr.mean()) * (lf - lf.mean())).sum()) / (len(lr) - 1)
        var = float(np.var(lr, ddof=1))
        assert r["zipf_slope"] == pytest.approx(cov / var, rel=1e-9, abs=1e-12)
        assert r["zipf_intercept"] == pytest.approx(
            float(lf.mean()) - cov / var * float(lr.mean()), rel=1e-9, abs=1e-12
        )
        den = float(np.std(lr, ddof=1)) * float(np.std(lf, ddof=1))
        if den > 0:
            assert r["r2"] == pytest.approx((cov / den) ** 2, rel=1e-9, abs=1e-12)
        else:
            assert r["r2"] is None
    else:
        assert r["zipf_slope"] is None


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(_W8_DOCS), st.sampled_from(["a", "a", "b"])),
        min_size=1,
        max_size=8,
    )
)
@SET
def test_vocab_jsd_counter_property(spark, rows):
    """vocab_jsd matches the Counter-based JSD; an empty token side
    yields NULL (not 0, not a throw)."""
    import math as m
    from collections import Counter

    from ffn_polars_spark.operators.text import vocab_jsd

    df = spark.createDataFrame(
        [(i, d, s) for i, (d, s) in enumerate(rows)],
        "doc_id long, text string, side string",
    )
    got = vocab_jsd(df, "side", "a", "b").collect()[0]
    ca = Counter(t for d, s in rows if s == "a" for t in _pytok(d))
    cb = Counter(t for d, s in rows if s == "b" for t in _pytok(d))
    na, nb = sum(ca.values()), sum(cb.values())
    if na == 0 or nb == 0:
        assert got["jsd"] is None
        return
    jsd = 0.0
    for t in set(ca) | set(cb):
        p = ca.get(t, 0) / na
        q = cb.get(t, 0) / nb
        mm = (p + q) / 2
        if p > 0:
            jsd += 0.5 * p * m.log(p / mm)
        if q > 0:
            jsd += 0.5 * q * m.log(q / mm)
    assert got["jsd"] == pytest.approx(jsd, rel=1e-9, abs=1e-12)
    assert got["n_tokens_a"] == na and got["n_tokens_b"] == nb
    assert got["vocab_union"] == len(set(ca) | set(cb))


@given(docs=st.lists(st.sampled_from(_W8_DOCS), min_size=1, max_size=8))
@SET
def test_unigram_bigram_logprob_counter_property(spark, docs):
    """unigram_logprob and bigram_logprob match the Counter-based MLE
    scores (docs with no tokens / no bigrams omitted; 6-digit rounding)."""
    import math as m
    from collections import Counter

    from ffn_polars_spark.operators.text import bigram_logprob, unigram_logprob

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    toks = {i: _pytok(d) for i, d in rows}
    tf = Counter(t for ts in toks.values() for t in ts)
    n = sum(tf.values())

    got_u = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    for i, ts in toks.items():
        if not ts:
            assert i not in got_u
            continue
        want = m.log(n) - sum(m.log(tf[t]) for t in ts) / len(ts)
        assert got_u[i]["n_tokens"] == len(ts)
        assert got_u[i]["neg_logprob"] == pytest.approx(round(want, 6), abs=1.5e-6)

    bc = Counter(
        (ts[j - 1], ts[j]) for ts in toks.values() for j in range(1, len(ts))
    )
    cl = Counter()
    for (a, _), cnt in bc.items():
        cl[a] += cnt
    got_b = {r["doc_id"]: r for r in bigram_logprob(df).collect()}
    for i, ts in toks.items():
        pairs = [(ts[j - 1], ts[j]) for j in range(1, len(ts))]
        if not pairs:
            assert i not in got_b
            continue
        want = -sum(m.log(bc[p] / cl[p[0]]) for p in pairs) / len(pairs)
        assert got_b[i]["n_bigrams"] == len(pairs)
        assert got_b[i]["neg_logprob"] == pytest.approx(round(want, 6), abs=1.5e-6)


@given(
    docs=st.lists(st.sampled_from(_W8_DOCS), min_size=1, max_size=8),
    min_count=st.sampled_from([1, 2]),
)
@SET
def test_pmi_collocations_counter_property(spark, docs, min_count):
    """pmi_collocations matches the Counter PMI over min_count-filtered
    bigrams with marginals computed on the FILTERED table."""
    import math as m
    from collections import Counter

    from ffn_polars_spark.operators.text import pmi_collocations

    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "doc_id long, text string")
    got = pmi_collocations(df, k=50, min_count=min_count).collect()

    toks = {i: _pytok(d) for i, d in enumerate(docs)}
    bc = Counter(
        (ts[j - 1], ts[j]) for ts in toks.values() for j in range(1, len(ts))
    )
    bc = {p: c for p, c in bc.items() if c >= min_count}
    cl, cr = Counter(), Counter()
    for (a, b), c in bc.items():
        cl[a] += c
        cr[b] += c
    nn = sum(bc.values())
    want = sorted(
        (
            (a, b, c, round(m.log(c * nn / (cl[a] * cr[b])), 6))
            for (a, b), c in bc.items()
        ),
        key=lambda t: (-t[3], t[0], t[1]),
    )[:50]
    assert [(r["prev"], r["token"], r["n"]) for r in got] == [
        (a, b, c) for a, b, c, _ in want
    ]
    for r, (_, _, _, pmi) in zip(got, want):
        assert r["pmi"] == pytest.approx(pmi, abs=1.5e-6)


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(_W8_DOCS), st.sampled_from(["s1", "s2"])),
        min_size=1,
        max_size=8,
    ),
    vocab_size=st.sampled_from([1, 2, 100]),
)
@SET
def test_oov_rate_topk_vocab_property(spark, rows, vocab_size):
    """oov_rate matches the Python top-k vocabulary walk with
    (freq desc, token asc) tie-breaks."""
    from collections import Counter

    from ffn_polars_spark.operators.text import oov_rate

    df = spark.createDataFrame(
        [(i, d, s) for i, (d, s) in enumerate(rows)],
        "doc_id long, text string, source string",
    )
    got = {r["source"]: r for r in oov_rate(df, vocab_size=vocab_size).collect()}

    gtf = Counter(t for d, _ in rows for t in _pytok(d))
    vocab = {
        t for t, _ in sorted(gtf.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    }
    for src in {s for _, s in rows}:
        ts = [t for d, s in rows if s == src for t in _pytok(d)]
        if not ts:
            assert src not in got
            continue
        oov = sum(1 for t in ts if t not in vocab)
        assert got[src]["n_tokens"] == len(ts)
        assert got[src]["oov_tokens"] == oov
        assert got[src]["oov_rate"] == pytest.approx(oov / len(ts), rel=1e-12)


@given(docs=st.lists(st.sampled_from(_W8_DOCS + ["Hi there. How are you?! Ok"]), min_size=1, max_size=6))
@SET
def test_flesch_readability_regex_property(spark, docs):
    """flesch_readability matches the Python regex walk (words,
    [.!?]+-sentences containing a word, vowel-run syllables); no-word or
    no-sentence docs score NULL."""
    import re

    from ffn_polars_spark.operators.text import flesch_readability

    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "doc_id long, text string")
    got = {r["doc_id"]: r for r in flesch_readability(df).collect()}
    for i, d in enumerate(docs):
        words = [w for w in re.split(r"\s+", d) if w != ""]
        sents = [
            s
            for s in re.split(r"[.!?]+", d)
            if [w for w in re.split(r"\s+", s) if w != ""]
        ]
        syl = len(re.findall(r"[aeiouyAEIOUY]+", d))
        r = got[i]
        assert r["n_words"] == len(words)
        assert r["n_sentences"] == len(sents)
        assert r["n_syllables"] == syl
        if words and sents:
            want = (
                206.835
                - 1.015 * len(words) / len(sents)
                - 84.6 * syl / len(words)
            )
            assert r["flesch"] == pytest.approx(want, rel=1e-9, abs=1e-12)
        else:
            assert r["flesch"] is None


@given(
    docs=st.lists(st.sampled_from(_W8_DOCS), min_size=1, max_size=8),
    query=st.sampled_from([["the"], ["the", "fox"], ["zzz"], ["a", "b", "x"]]),
)
@SET
def test_bm25_search_counter_property(spark, docs, query):
    """bm25_search matches the Python Lucene-idf BM25 walk over matching
    documents only."""
    import math as m
    from collections import Counter

    from ffn_polars_spark.operators.search import bm25_search
    from ffn_polars_spark.pins import release_pins

    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "doc_id long, text string")
    got = {r["doc_id"]: r for r in bm25_search(df, query).collect()}
    release_pins()

    toks = {i: _pytok(d) for i, d in enumerate(docs)}
    n_docs = len(docs)
    avglen = sum(len(ts) for ts in toks.values()) / n_docs
    terms = sorted({w.lower() for w in query if w})
    dfreq = {t: sum(1 for ts in toks.values() if t in ts) for t in terms}
    k1, b = 1.2, 0.75
    for i, ts in toks.items():
        tf = Counter(ts)
        matched = [t for t in terms if tf[t] > 0]
        if not matched:
            assert i not in got
            continue
        score = sum(
            m.log(1 + (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            * (tf[t] * (k1 + 1))
            / (tf[t] + k1 * (1 - b + b * len(ts) / avglen))
            for t in matched
        )
        assert got[i]["n_terms"] == len(matched)
        assert got[i]["score"] == pytest.approx(score, rel=1e-9, abs=1e-12)


# ---------------------------------------------------------------------------
# r13 stats battery, wave 9: recursive smoothers, calendar/intraday
# panels, journey matrices, Luhn, portfolio turnover, TCA curves vs
# sequential Python/pandas references.
# ---------------------------------------------------------------------------


@given(
    xs=st.lists(st.sampled_from([0.0, -1.0, 2.0, 2.0, 10.0]), min_size=1, max_size=20),
    alpha=st.sampled_from([0.1, 0.5, 0.94]),
)
@SET
def test_ewma_ewmvol_pandas_property(spark, xs, alpha):
    """ewma matches pandas ewm(adjust=False).mean(); ewm_volatility
    matches the RiskMetrics sequential walk."""
    import math as m

    import pandas as pd

    from ffn_polars_spark.operators.recursive import ewm_volatility, ewma

    df = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "i long, v double"
    )
    got = {
        r["i"]: r["v_ewma"]
        for r in ewma(df, "v", alpha, order_by="i").collect()
    }
    want = pd.Series(xs).ewm(alpha=alpha, adjust=False).mean()
    for i in range(len(xs)):
        assert got[i] == pytest.approx(float(want[i]), rel=1e-9, abs=1e-12)

    gotv = {
        r["i"]: r["v_ewmvol"]
        for r in ewm_volatility(df, "v", alpha, order_by="i").collect()
    }
    var = None
    for i, x in enumerate(xs):
        var = x * x if i == 0 else (1 - alpha) * var + alpha * x * x
        assert gotv[i] == pytest.approx(m.sqrt(var), rel=1e-9, abs=1e-12)


@given(
    xs=st.lists(st.sampled_from([0.0, 10.0, 10.0, 12.0, 20.0]), min_size=1, max_size=15),
    window=st.sampled_from([2, 4]),
)
@SET
def test_bollinger_numpy_property(spark, xs, window):
    """bollinger's five bands match per-window numpy; zero-width bands
    and zero mids yield the documented NULLs."""
    import numpy as np

    from ffn_polars_spark.functions.rolling import bollinger
    from ffn_polars_spark import Over

    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i long, v double")
    out = {r["i"]: r for r in bollinger(df, "v", Over(order_by="i"), window=window, k=2.0).collect()}
    for j in range(len(xs)):
        r = out[j]
        if j < window - 1:
            assert r["bb_mid"] is None and r["bb_pctb"] is None
            continue
        wv = np.array(xs[j - window + 1 : j + 1])
        mid = float(wv.mean())
        sd = float(wv.std(ddof=1))
        up, dn = mid + 2 * sd, mid - 2 * sd
        assert r["bb_mid"] == pytest.approx(mid, rel=1e-9, abs=1e-12)
        assert r["bb_up"] == pytest.approx(up, rel=1e-9, abs=1e-12)
        assert r["bb_dn"] == pytest.approx(dn, rel=1e-9, abs=1e-12)
        if up != dn:
            assert r["bb_pctb"] == pytest.approx((xs[j] - dn) / (up - dn), rel=1e-9, abs=1e-12)
        else:
            assert r["bb_pctb"] is None
        if mid != 0:
            assert r["bb_bw"] == pytest.approx((up - dn) / mid, rel=1e-9, abs=1e-12)
        else:
            assert r["bb_bw"] is None


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from([None, 0.0, 1.0, 2.0]),
            st.sampled_from([None, 0.0, 1.0, 3.0]),
        ),
        min_size=1,
        max_size=18,
    ),
    max_lag=st.sampled_from([1, 2]),
)
@SET
def test_lead_lag_corr_numpy_property(spark, rows, max_lag):
    """lead_lag_corr matches shifted pairwise-complete numpy population
    correlation at every offset."""
    import numpy as np

    from ffn_polars_spark.functions.tick_price import lead_lag_corr

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)], "i long, a double, b double"
    )
    got = {r["lag"]: r for r in lead_lag_corr(df, "a", "b", order_by="i", max_lag=max_lag).collect()}
    n = len(rows)
    for k in range(-max_lag, max_lag + 1):
        pairs = [
            (rows[t][0], rows[t - k][1])
            for t in range(n)
            if 0 <= t - k < n and rows[t][0] is not None and rows[t - k][1] is not None
        ]
        r = got[k]
        assert r["n"] == len(pairs)
        if pairs:
            av = np.array([p for p, _ in pairs])
            bv = np.array([q for _, q in pairs])
            den = float(av.std()) * float(bv.std())
            if den != 0:
                cov = float(((av - av.mean()) * (bv - bv.mean())).mean())
                assert r["ccf"] == pytest.approx(cov / den, rel=1e-9, abs=1e-12)
            else:
                assert r["ccf"] is None
        else:
            assert r["ccf"] is None


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 30), st.sampled_from([-0.02, 0.0, 0.01, 0.01])),
        min_size=1,
        max_size=25,
    )
)
@SET
def test_weekday_returns_calendar_property(spark, rows):
    """weekday_returns matches the Python (epoch_days + 4) % 7 walk with
    numpy moments and the t-stat formula."""
    import datetime as dt
    import math as m

    import numpy as np

    from ffn_polars_spark.functions.eod_temporal import weekday_returns

    d0 = dt.date(2023, 1, 2)
    data = [(d0 + dt.timedelta(days=off), r) for off, r in rows]
    df = spark.createDataFrame(data, "d date, r double")
    got = {r["dow"]: r for r in weekday_returns(df, "r", "d").collect()}

    by_dow = {}
    for d, r in data:
        dow = (d.toordinal() - dt.date(1970, 1, 1).toordinal() + 4) % 7
        by_dow.setdefault(dow, []).append(r)
    assert set(got) == set(by_dow)
    for dow, rs in by_dow.items():
        g = got[dow]
        assert g["n"] == len(rs)
        assert g["mean_r"] == pytest.approx(float(np.mean(rs)), rel=1e-9, abs=1e-12)
        assert g["win_rate"] == pytest.approx(
            sum(1 for x in rs if x > 0) / len(rs), rel=1e-12
        )
        if len(rs) >= 2:
            sd = float(np.std(rs, ddof=1))
            if sd > 0:
                assert g["t_stat"] == pytest.approx(
                    float(np.mean(rs)) / (sd / m.sqrt(len(rs))), rel=1e-9, abs=1e-12
                )
            else:
                assert g["t_stat"] is None
        else:
            assert g["t_stat"] is None


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 3),                       # user
            st.integers(0, 30),                      # ts
            st.sampled_from(["v", "c", "p"]),        # type
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@SET
def test_transition_matrix_counter_property(spark, events):
    """transition_matrix matches the per-user Counter walk with
    row-normalized probabilities."""
    from collections import Counter

    from ffn_polars_spark.operators.funnel import transition_matrix

    df = spark.createDataFrame(events, "user_id int, ts_ns long, event_type string")
    got = {
        (r["from_type"], r["to_type"]): r
        for r in transition_matrix(df).collect()
    }
    per_user = {}
    for u, t, e in sorted(events, key=lambda x: (x[0], x[1])):
        per_user.setdefault(u, []).append(e)
    c = Counter(
        (seq[i - 1], seq[i])
        for seq in per_user.values()
        for i in range(1, len(seq))
    )
    rowt = Counter()
    for (a, _), n in c.items():
        rowt[a] += n
    assert set(got) == set(c)
    for (a, b), n in c.items():
        assert got[(a, b)]["n"] == n
        assert got[(a, b)]["prob"] == pytest.approx(round(n / rowt[a], 6), abs=1.5e-6)


@given(
    cands=st.lists(
        st.sampled_from(
            ["79927398713", "79927398710", "4111111111111111", "123", "12a4",
             "0", "18", "00", "x", ""]
        ),
        min_size=1,
        max_size=10,
    )
)
@SET
def test_luhn_validate_python_property(spark, cands):
    """luhn_validate matches the textbook Python Luhn; non-digit or
    <2-digit candidates are NULL."""
    from ffn_polars_spark.operators.text import luhn_validate

    rows = [(i, c) for i, c in enumerate(cands)]
    df = spark.createDataFrame(rows, "id long, cand string")
    got = {r["id"]: r["luhn_valid"] for r in luhn_validate(df, "cand").collect()}

    def luhn(s):
        total = 0
        for r, ch in enumerate(reversed(s)):
            d = int(ch)
            if r % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    for i, c in rows:
        if len(c) >= 2 and c.isdigit():
            assert got[i] == luhn(c)
        else:
            assert got[i] is None


@given(
    events=st.lists(
        st.tuples(st.integers(1, 4), st.integers(0, 50)),  # (user, ts)
        min_size=1,
        max_size=20,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@SET
def test_cohort_retention_walk_property(spark, events):
    """cohort_retention matches the Python first-event-cohort walk at
    period_ns=10."""
    from ffn_polars_spark.operators.funnel import cohort_retention

    df = spark.createDataFrame(events, "user_id int, ts_ns long")
    p = 10
    got = {
        (r["cohort_start"], r["offset"]): r
        for r in cohort_retention(df, period_ns=p).collect()
    }
    first = {}
    for u, t in events:
        first[u] = min(first.get(u, t), t)
    cohort = {u: ft - ft % p for u, ft in first.items()}
    trip = {(cohort[u], (t - t % p - cohort[u]) // p, u) for u, t in events}
    counts = {}
    for c, off, u in trip:
        counts.setdefault((c, off), set()).add(u)
    assert set(got) == set(counts)
    for (c, off), users in counts.items():
        base = len(counts[(c, 0)])
        assert got[(c, off)]["n_users"] == len(users)
        assert got[(c, off)]["retention"] == pytest.approx(
            round(len(users) / base, 6), abs=1.5e-6
        )


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),                              # ts
            st.sampled_from(["x", "y", "z", "w"]),          # asset
            st.sampled_from([None, -0.5, 0.0, 0.1]),        # return
        ),
        min_size=1,
        max_size=16,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@SET
def test_portfolio_turnover_walk_property(spark, rows):
    """portfolio_turnover matches the Python drift/rebalance walk with
    present-asset renormalization (zero-weight books NULL)."""
    from ffn_polars_spark.functions.eod_returns import portfolio_turnover

    weights = {"x": 0.5, "y": 0.3, "z": 0.2}  # w absent from the book
    df = spark.createDataFrame(rows, "ts int, asset string, r double")
    got = {
        r["ts"]: r
        for r in portfolio_turnover(df, weights, "asset", "ts", "r", cost_bps=10.0).collect()
    }
    per_ts = {}
    for t, a, r in rows:
        if a in weights and r is not None:
            per_ts.setdefault(t, []).append((weights[a], r))
    for t, wr in per_ts.items():
        g = got[t]
        sw = sum(w for w, _ in wr)
        swg = sum(w * (1 + r) for w, r in wr)
        swr = sum(w * r for w, r in wr)
        assert g["n_assets"] == len(wr)
        if sw != 0:
            assert g["portfolio_return"] == pytest.approx(swr / sw, rel=1e-9, abs=1e-12)
            devs = [
                abs(w / sw - (w * (1 + r) / swg)) for w, r in wr if swg != 0
            ]
            to = 0.5 * sum(devs) if swg != 0 else None
            if to is not None:
                assert g["turnover"] == pytest.approx(to, rel=1e-9, abs=1e-12)
                assert g["net_return"] == pytest.approx(
                    swr / sw - 0.001 * to, rel=1e-9, abs=1e-12
                )
        else:
            assert g["portfolio_return"] is None
    assert set(got) == set(per_ts)


@given(
    trades=st.lists(
        st.tuples(st.integers(0, 39), st.sampled_from([0.0, 1.0, 5.0])),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    )
)
@SET
def test_volume_curve_walk_property(spark, trades):
    """volume_curve matches the Python day/bucket share walk; zero-volume
    days drop."""
    from ffn_polars_spark.functions.tick_flow import volume_curve

    df = spark.createDataFrame(trades, "ts long, volume double")
    # period 20, 4 buckets of 5
    got = {
        r["bucket"]: r
        for r in volume_curve(df, "volume", "ts", period_ns=20, buckets=4).collect()
    }
    per = {}
    for t, v in trades:
        day, bucket = t // 20, (t % 20) // 5
        per[(day, bucket)] = per.get((day, bucket), 0.0) + v
    day_tot = {}
    for (d, _), v in per.items():
        day_tot[d] = day_tot.get(d, 0.0) + v
    shares = {}
    for (d, b), v in per.items():
        if day_tot[d] > 0:
            shares.setdefault(b, []).append(v / day_tot[d])
    assert set(got) == set(shares)
    for b, ss in shares.items():
        assert got[b]["n_days"] == len(ss)
        assert got[b]["avg_share"] == pytest.approx(
            sum(ss) / len(ss), rel=1e-9, abs=1e-12
        )


@given(
    trades=st.lists(
        st.tuples(st.integers(0, 30), st.sampled_from([9.0, 10.0, 10.0, 11.0])),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    quotes=st.lists(
        st.tuples(st.integers(0, 40), st.sampled_from([(9.0, 11.0), (10.0, 10.0)])),
        min_size=0,
        max_size=8,
        unique_by=lambda t: t[0],
    ),
)
@SET
def test_realized_spread_walk_property(spark, trades, quotes):
    """realized_spread matches the sequential walk: future mid from the
    quote prevailing at t+h, tick-rule signs, NULL with no quote yet."""
    from ffn_polars_spark.functions.quote import realized_spread

    h = 5
    tdf = spark.createDataFrame(
        [(t, p) for t, p in trades], "ts_ns long, price double"
    )
    qdf = spark.createDataFrame(
        [(t, b, a) for t, (b, a) in quotes], "ts_ns long, bid double, ask double"
    )
    got = {
        r["ts_ns"]: r
        for r in realized_spread(tdf, qdf, horizon=h).select(
            "ts_ns", "mid_future", "realized_spread"
        ).collect()
    }
    qs = sorted((t, (b + a) / 2.0) for t, (b, a) in quotes)
    seq = sorted(trades)
    prev_p = None
    for t, p in seq:
        mids = [m for qt, m in qs if qt <= t + h]
        mid = mids[-1] if mids else None
        d = 0 if prev_p is None else (1 if p > prev_p else (-1 if p < prev_p else 0))
        r = got[t]
        if mid is None:
            assert r["mid_future"] is None and r["realized_spread"] is None
        else:
            assert r["mid_future"] == pytest.approx(mid, rel=1e-12)
            assert r["realized_spread"] == pytest.approx(
                2.0 * d * (p - mid), rel=1e-9, abs=1e-12
            )
        prev_p = p


# ---------------------------------------------------------------------------
# r13 stats battery, wave 10: deterministic sampling/splits replayed with
# hashlib md5, TF-IDF, shingle novelty/containment, RRF fusion vs plain
# Python references.
# ---------------------------------------------------------------------------


def _md5u(id_, tag, seed=0):
    """Python replay of sim.rand.uniform(hash_fn='md5')."""
    import hashlib

    s = f"{id_}:{tag}:{seed}"
    return int(hashlib.md5(s.encode()).hexdigest()[17:32], 16) / float(1 << 60)


@given(
    ids=st.lists(st.integers(0, 1000), min_size=1, max_size=20, unique=True),
    k=st.sampled_from([2, 5]),
    salt=st.sampled_from(["", "s1"]),
)
@SET
def test_kfold_time_split_replay_property(spark, ids, k, salt):
    """kfold_assign replays as int(md5(id+salt)[:8],16) % k; time_split's
    cutoff is the exact interpolated quantile."""
    import hashlib

    import numpy as np

    from ffn_polars_spark.operators.pipeline import kfold_assign, time_split

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {r["doc_id"]: r["fold"] for r in kfold_assign(df, k=k, salt=salt).collect()}
    for i in ids:
        want = int(hashlib.md5(f"{i}{salt}".encode()).hexdigest()[:8], 16) % k
        assert got[i] == want

    tdf = spark.createDataFrame([(i, float(i * 7 % 13)) for i in ids], "doc_id long, ts double")
    rows = time_split(tdf, ts_col="ts", train_frac=0.6).collect()
    cut = float(np.percentile([float(i * 7 % 13) for i in ids], 60, method="linear"))
    for r in rows:
        assert r["cutoff_ts"] == pytest.approx(cut, rel=1e-12)
        assert r["split"] == ("train" if r["ts"] < cut else "test")


@given(
    labels=st.lists(st.sampled_from(["a", "a", "b", "c", None]), min_size=1, max_size=20)
)
@SET
def test_label_stats_counter_property(spark, labels):
    """label_stats matches Counter fractions and the label entropy in
    bits (NULL labels are their own class)."""
    import math as m
    from collections import Counter

    from ffn_polars_spark.operators.pipeline import label_stats

    df = spark.createDataFrame([(x,) for x in labels], "label string")
    got = {r["label"]: r for r in label_stats(df).collect()}
    c = Counter(labels)
    n = len(labels)
    h = -sum((v / n) * m.log2(v / n) for v in c.values())
    assert set(got) == set(c)
    for lab, v in c.items():
        assert got[lab]["n"] == v
        assert got[lab]["frac"] == pytest.approx(round(v / n, 6), abs=1.5e-6)
        assert got[lab]["entropy_bits"] == pytest.approx(round(h, 6), abs=1.5e-6)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), st.sampled_from(["s1", "s2"])),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
    n=st.sampled_from([1, 3]),
)
@SET
def test_cap_groupk_sample_replay_property(spark, rows, n):
    """cap_per_group and groupk_sample keep exactly the md5-replayed
    smallest-uniform ids per group."""
    from ffn_polars_spark.operators.pipeline import cap_per_group
    from ffn_polars_spark.operators.sketch import groupk_sample

    df = spark.createDataFrame(rows, "doc_id long, source string")
    got_cap = {r["doc_id"] for r in cap_per_group(df, n, "source", "doc_id").collect()}
    got_k = {r["doc_id"] for r in groupk_sample(df, n, ["source"], "doc_id").collect()}

    want_cap, want_k = set(), set()
    for src in {s for _, s in rows}:
        members = [i for i, s in rows if s == src]
        by_cap = sorted(members, key=lambda i: (_md5u(i, "cap"), i))[:n]
        by_k = sorted(members, key=lambda i: (_md5u(i, "gsample"), i))[:n]
        want_cap.update(by_cap)
        want_k.update(by_k)
    assert got_cap == want_cap
    assert got_k == want_k


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), st.sampled_from([0.0, 0.5, 2.0, 10.0])),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
    k=st.sampled_from([1, 4]),
)
@SET
def test_weighted_sample_es_replay_property(spark, rows, k):
    """weighted_sample keeps the k largest Efraimidis-Spirakis keys
    ln(u)/w, md5-replayed; zero weights are excluded."""
    import math as m

    from ffn_polars_spark.operators.sketch import weighted_sample

    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = {r["doc_id"] for r in weighted_sample(df, k, "w", "doc_id").collect()}
    keyed = [
        (m.log(_md5u(i, "wsample")) / w, i) for i, w in rows if w > 0
    ]
    want = {i for _, i in sorted(keyed, key=lambda t: (-t[0], t[1]))[:k]}
    assert got == want


@given(
    docs=st.lists(st.sampled_from(_W8_DOCS), min_size=1, max_size=8),
    m_top=st.sampled_from([1, 3]),
)
@SET
def test_tfidf_topterms_counter_property(spark, docs, m_top):
    """tfidf_topterms matches the Counter tf*ln(N/df) walk with
    (tfidf desc, term asc) top-m per doc."""
    import math as m
    from collections import Counter

    from ffn_polars_spark.operators.text import tfidf_topterms
    from ffn_polars_spark.pins import release_pins

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in tfidf_topterms(df, m=m_top).collect():
        got.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["tf"], r["tfidf"]))
    release_pins()

    n_docs = len(docs)
    toks = {i: _pytok(d) for i, d in rows}
    dfreq = Counter()
    for ts in toks.values():
        for t in set(ts):
            dfreq[t] += 1
    for i, ts in toks.items():
        if not ts:
            assert i not in got
            continue
        tf = Counter(ts)
        scored = sorted(
            ((t, c, round(c * m.log(n_docs / dfreq[t]), 6)) for t, c in tf.items()),
            key=lambda x: (-x[2], x[0]),
        )[:m_top]
        have = sorted(got[i])
        assert len(have) == len(scored)
        for (rk, term, tfv, tfidf), (t, c, s) in zip(have, scored):
            assert (term, tfv) == (t, c)
            assert tfidf == pytest.approx(s, abs=1.5e-6)


@given(docs=st.lists(st.sampled_from(_W8_DOCS + ["a b c d", "c d e f"]), min_size=1, max_size=8))
@SET
def test_shingle_novelty_walk_property(spark, docs):
    """shingle_novelty matches the first-appearance (min doc id) walk
    over distinct 3-gram shingles."""
    from ffn_polars_spark.operators.dedup import shingle_novelty

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in shingle_novelty(df, n=3).collect()}

    sh = {
        i: {
            " ".join(ts[j : j + 3]) for j in range(len(ts) - 2)
        }
        for i, d in rows
        for ts in [_pytok(d)]
        if len(ts) >= 3
    }
    first = {}
    for i in sorted(sh):
        for s in sh[i]:
            first.setdefault(s, i)
    assert set(got) == set(sh)
    for i, ss in sh.items():
        novel = sum(1 for s in ss if first[s] == i)
        assert got[i]["n_shingles"] == len(ss)
        assert got[i]["n_novel"] == novel
        assert got[i]["novelty"] == pytest.approx(novel / len(ss), rel=1e-12)


@given(
    docs=st.lists(
        st.sampled_from(["a b c d e", "a b c", "x y", "a b x y", "c d e a b"]),
        min_size=2,
        max_size=6,
    ),
    threshold=st.sampled_from([0.3, 0.8]),
)
@SET
def test_containment_pairs_naive_property(spark, docs, threshold):
    """containment_pairs matches the naive shingle-set walk, both
    directions, rounded-then-thresholded."""
    from ffn_polars_spark.operators.dedup import containment_pairs
    from ffn_polars_spark.pins import release_pins

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"])
        for r in containment_pairs(df, threshold=threshold, n=2).collect()
    }
    release_pins()

    sh = {
        i: {" ".join(ts[j : j + 2]) for j in range(len(ts) - 1)}
        for i, d in rows
        for ts in [_pytok(d)]
        if len(ts) >= 2
    }
    want = {}
    ks = sorted(sh)
    for x in ks:
        for y in ks:
            if x >= y or not (sh[x] & sh[y]):
                continue
            inter = len(sh[x] & sh[y])
            ca = round(inter / len(sh[x]), 6)
            cb = round(inter / len(sh[y]), 6)
            if ca >= threshold or cb >= threshold:
                want[(x, y)] = (ca, cb)
    assert set(got) == set(want)
    for p, (ca, cb) in want.items():
        assert got[p][0] == pytest.approx(ca, abs=1.5e-6)
        assert got[p][1] == pytest.approx(cb, abs=1.5e-6)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["lex", "ann"]),
            st.sampled_from(["d1", "d2", "d3", "d4"]),
            st.integers(1, 5),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: (t[0], t[1]),
    ),
    top_k=st.sampled_from([2, 10]),
)
@SET
def test_rrf_fuse_walk_property(spark, rows, top_k):
    """rrf_fuse matches the 1/(k0+rank) sum walk with (score desc,
    item asc) top-k."""
    from ffn_polars_spark.operators.search import rrf_fuse

    df = spark.createDataFrame(rows, "system string, item string, rank int")
    got = [
        (r["item"], r["rrf_score"], r["n_systems"], r["fused_rank"])
        for r in rrf_fuse(df, "system", "item", "rank", top_k=top_k)
        .orderBy("fused_rank")
        .collect()
    ]
    agg = {}
    for s, it, rk in rows:
        sc, systems = agg.get(it, (0.0, set()))
        agg[it] = (sc + 1.0 / (60 + rk), systems | {s})
    want = sorted(
        ((it, sc, len(sys_)) for it, (sc, sys_) in agg.items()),
        key=lambda t: (-t[1], t[0]),
    )[:top_k]
    assert len(got) == len(want)
    for (gi, gs, gn, gr), (wi, ws, wn) in zip(got, want):
        assert gi == wi and gn == wn
        assert gs == pytest.approx(ws, rel=1e-9, abs=1e-12)


# ---------------------------------------------------------------------------
# r13 stats battery, wave 11: corpus LM scoring, ingest audits, robust
# screens, seasonal/intraday normalization, co-occurrence, search vs
# plain Python references.
# ---------------------------------------------------------------------------


@given(docs=st.lists(st.sampled_from(_W8_DOCS), min_size=1, max_size=8))
@SET
def test_doc_perplexity_addone_property(spark, docs):
    """doc_perplexity matches the Counter add-one-smoothed cross-entropy
    H = -mean ln((c+1)/(N+V))."""
    import math as m
    from collections import Counter

    from ffn_polars_spark.operators.text import doc_perplexity
    from ffn_polars_spark.pins import release_pins

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in doc_perplexity(df).collect()}
    release_pins()

    toks = {i: _pytok(d) for i, d in rows}
    tf = Counter(t for ts in toks.values() for t in ts)
    n, v = sum(tf.values()), len(tf)
    for i, ts in toks.items():
        if not ts:
            assert i not in got
            continue
        h = -sum(m.log((tf[t] + 1) / (n + v)) for t in ts) / len(ts)
        assert got[i]["n_tokens"] == len(ts)
        assert got[i]["cross_entropy"] == pytest.approx(h, rel=1e-9, abs=1e-12)
        assert got[i]["perplexity"] == pytest.approx(m.exp(h), rel=1e-9)


@given(
    rows=st.lists(
        st.sampled_from(
            ['{"a": 1}', '{"a": 2.5}', '{"a": "x"}', '{"b": 3}', "not json", "{}", '{"a": null}']
        ),
        min_size=1,
        max_size=12,
    )
)
@SET
def test_json_extract_stats_python_property(spark, rows):
    """json_extract_stats matches the Python json walk: parse counts,
    field counts, numeric profile."""
    import json

    from ffn_polars_spark.operators.wide import json_extract_stats

    df = spark.createDataFrame([(s,) for s in rows], "props string")
    got = json_extract_stats(df, "props", "$.a").collect()[0]

    n_json = n_field = 0
    nums = []
    for s in rows:
        try:
            obj = json.loads(s)
        except ValueError:
            continue
        n_json += 1
        if isinstance(obj, dict) and obj.get("a") is not None:
            n_field += 1
            val = obj["a"]
            try:
                nums.append(float(val))
            except (TypeError, ValueError):
                pass
    assert got["n_rows"] == len(rows)
    assert got["n_json"] == n_json
    assert got["n_field"] == n_field
    if nums:
        assert got["min_v"] == pytest.approx(min(nums), rel=1e-12)
        assert got["max_v"] == pytest.approx(max(nums), rel=1e-12)
        assert got["avg_v"] == pytest.approx(sum(nums) / len(nums), rel=1e-12)
    else:
        assert got["min_v"] is None


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["k1", "k2"]), st.integers(0, 40)),
        min_size=1,
        max_size=15,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@SET
def test_detect_gaps_runlength_property(spark, rows):
    """detect_gaps matches the Python missing-bucket run-length walk at
    bucket_ns=5."""
    from ffn_polars_spark.operators.quality import detect_gaps

    df = spark.createDataFrame(rows, "event_type string, ts_ns long")
    got = {
        (r["event_type"], r["gap_start_bucket"]): r
        for r in detect_gaps(df, bucket_ns=5).collect()
    }
    want = {}
    for k in {k for k, _ in rows}:
        buckets = sorted({t // 5 for kk, t in rows if kk == k})
        missing = sorted(set(range(buckets[0], buckets[-1] + 1)) - set(buckets))
        run = []
        for b in missing:
            if run and b == run[-1] + 1:
                run.append(b)
            else:
                if run:
                    want[(k, run[0])] = (run[-1], len(run))
                run = [b]
        if run:
            want[(k, run[0])] = (run[-1], len(run))
    assert set(got) == set(want)
    for key, (end, n) in want.items():
        assert got[key]["gap_end_bucket"] == end
        assert got[key]["n_missing"] == n


@given(
    old=st.lists(
        st.tuples(st.integers(0, 8), st.sampled_from(["x", "y"])),
        min_size=0, max_size=8, unique_by=lambda t: t[0],
    ),
    new=st.lists(
        st.tuples(st.integers(0, 8), st.sampled_from(["x", "y"])),
        min_size=0, max_size=8, unique_by=lambda t: t[0],
    ),
)
@SET
def test_snapshot_diff_dict_property(spark, old, new):
    """snapshot_diff matches the dict compare: added/removed/changed/
    unchanged over the id union."""
    from ffn_polars_spark.operators.quality import snapshot_diff

    if not old and not new:
        return
    odf = spark.createDataFrame(old or [(999, "z")], "doc_id long, text string")
    ndf = spark.createDataFrame(new or [(998, "z")], "doc_id long, text string")
    o = dict(old) if old else {999: "z"}
    nw = dict(new) if new else {998: "z"}
    got = {r["doc_id"]: r["status"] for r in snapshot_diff(odf, ndf).collect()}
    for i in set(o) | set(nw):
        if i not in o:
            assert got[i] == "added"
        elif i not in nw:
            assert got[i] == "removed"
        elif o[i] == nw[i]:
            assert got[i] == "unchanged"
        else:
            assert got[i] == "changed"


@given(
    vals=st.lists(
        st.sampled_from([0.0, 1.0, 1.0, 2.0, 100.0, -50.0]),
        min_size=1,
        max_size=20,
    ),
    k=st.sampled_from([1.0, 3.0]),
)
@SET
def test_robust_outliers_median_mad_property(spark, vals, k):
    """robust_outliers matches the numpy median/MAD fence walk."""
    import numpy as np

    from ffn_polars_spark.operators.sketch import robust_outliers
    from ffn_polars_spark.pins import release_pins

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = robust_outliers(df, "v", k=k).collect()[0]
    release_pins()

    x = np.array(vals)
    med = float(np.percentile(x, 50, method="linear"))
    absdev = np.abs(x - med)
    mad = float(np.percentile(absdev, 50, method="linear"))
    fence = k * 1.4826 * mad
    n_out = int((absdev > fence).sum())
    assert got["n"] == len(vals)
    assert got["median"] == pytest.approx(round(med, 6), abs=1.5e-6)
    assert got["mad"] == pytest.approx(round(mad, 6), abs=1.5e-6)
    assert got["n_outliers"] == n_out
    assert got["outlier_frac"] == pytest.approx(round(n_out / len(vals), 6), abs=1.5e-6)


@given(
    vals=st.lists(
        st.sampled_from([0.0, 1.0, 1.0, 5.0, -2.0]), min_size=1, max_size=20
    ),
    nbins=st.sampled_from([2, 4]),
)
@SET
def test_quantile_bin_ntile_property(spark, vals, nbins):
    """quantile_bin (exact) matches SQL ntile: sizes differ by at most
    one, larger tiles first, assignment follows the (value, tiebreak)
    order."""
    from ffn_polars_spark.operators.sketch import quantile_bin

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v double")
    got = {r["id"]: r["bin"] for r in quantile_bin(df, "v", nbins=nbins, tiebreak="id").collect()}

    order = sorted(rows, key=lambda t: (t[1], t[0]))
    n = len(order)
    base, extra = divmod(n, nbins)
    want = {}
    pos = 0
    for b in range(1, nbins + 1):
        size = base + (1 if b <= extra else 0)
        for _ in range(size):
            if pos < n:
                want[order[pos][0]] = b
                pos += 1
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 19), st.sampled_from([0.0, 1.0, 4.0])),
        min_size=1,
        max_size=15,
        unique_by=lambda t: t[0],
    )
)
@SET
def test_seasonal_adjust_walk_property(spark, rows):
    """seasonal_adjust matches the phase-mean / grand-mean walk at
    period 10 with 2 phases."""
    from ffn_polars_spark.operators.pipeline import seasonal_adjust

    df = spark.createDataFrame(rows, "ts long, v double")
    got = {
        r["ts"]: r
        for r in seasonal_adjust(df, "v", "ts", period_ns=10, buckets=2).collect()
    }
    phases = {t: (t % 10) // 5 for t, _ in rows}
    pm = {}
    for t, v in rows:
        p = phases[t]
        s, c = pm.get(p, (0.0, 0))
        pm[p] = (s + v, c + 1)
    gm = sum(s for s, _ in pm.values()) / sum(c for _, c in pm.values())
    for t, v in rows:
        p = phases[t]
        idx = (pm[p][0] / pm[p][1]) / gm if gm != 0 else None
        r = got[t]
        assert r["phase"] == p
        if idx is None:
            assert r["seasonal_index"] is None
        else:
            assert r["seasonal_index"] == pytest.approx(idx, rel=1e-9, abs=1e-12)
            if idx != 0:
                assert r["v_adjusted"] == pytest.approx(v / idx, rel=1e-9, abs=1e-12)
            else:
                assert r["v_adjusted"] is None


@given(
    trades=st.lists(
        st.tuples(
            st.integers(0, 10),                          # hour slot (x 3600s ns)
            st.sampled_from([0.0, 10.0, 10.0, 12.0]),    # price (0 degenerate)
            st.sampled_from([1.0, 5.0]),                 # volume
        ),
        min_size=1,
        max_size=15,
    )
)
@SET
def test_intraday_profile_walk_property(spark, trades):
    """intraday_profile matches the sequential walk; a zero previous
    print NULLs that return (dropping it from the hour's moments)."""
    import math as m

    from ffn_polars_spark.functions.tick_activity import intraday_profile

    rows = [
        (i, slot * 3_600_000_000_000 + i, p, v)
        for i, (slot, p, v) in enumerate(trades)
    ]
    df = spark.createDataFrame(rows, "id long, ts_ns long, price double, volume double")
    got = {r["hour"]: r for r in intraday_profile(df, "price", "volume", order_by=["ts_ns"]).collect()}

    seq = sorted(rows, key=lambda t: t[1])
    rets = {}
    prev = None
    for _, ts, p, v in seq:
        h = (ts % 86_400_000_000_000) // 3_600_000_000_000
        r = (p / prev - 1.0) if prev not in (None, 0.0) else None
        rets.setdefault(h, []).append((v, r))
        prev = p
    tot_vol = sum(v for vs in rets.values() for v, _ in vs)
    assert set(got) == set(rets)
    for h, vs in rets.items():
        g = got[h]
        assert g["n_trades"] == len(vs)
        assert g["volume"] == pytest.approx(sum(v for v, _ in vs), rel=1e-12)
        rs = [r for _, r in vs if r is not None]
        if rs:
            assert g["mean_abs_r"] == pytest.approx(
                sum(abs(r) for r in rs) / len(rs), rel=1e-9, abs=1e-12
            )
            assert g["realized_vol"] == pytest.approx(
                m.sqrt(sum(r * r for r in rs)), rel=1e-9, abs=1e-12
            )
        else:
            assert g["mean_abs_r"] is None
        if tot_vol != 0:
            assert g["volume_share"] == pytest.approx(
                sum(v for v, _ in vs) / tot_vol, rel=1e-9, abs=1e-12
            )


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 2),                      # key
            st.integers(0, 20),                     # ts
            st.sampled_from(["a", "b", "c"]),       # item
        ),
        min_size=1,
        max_size=14,
        unique_by=lambda t: (t[0], t[1]),
    ),
    window=st.sampled_from([3, 8]),
)
@SET
def test_temporal_cooccurrence_naive_property(spark, events, window):
    """temporal_cooccurrence matches the O(n^2) within-window pair walk."""
    from collections import Counter

    from ffn_polars_spark.operators.funnel import temporal_cooccurrence

    df = spark.createDataFrame(events, "user_id int, ts long, item string")
    got = {
        (r["item_a"], r["item_b"]): r["n_co"]
        for r in temporal_cooccurrence(df, "ts", "user_id", "item", window).collect()
    }
    want = Counter()
    evs = list(events)
    for i in range(len(evs)):
        for j in range(len(evs)):
            k1, t1, i1 = evs[i]
            k2, t2, i2 = evs[j]
            if k1 == k2 and i1 < i2 and abs(t1 - t2) <= window:
                want[(i1, i2)] += 1
    assert got == dict(want)


@given(
    docs=st.lists(st.sampled_from(_W8_DOCS), min_size=1, max_size=8),
    query=st.sampled_from([["the"], ["a", "b"], ["fox", "quick"]]),
)
@SET
def test_keyword_search_counter_property(spark, docs, query):
    """keyword_search matches the conjunctive Counter walk: every term
    present, tf summed over query terms."""
    from collections import Counter

    from ffn_polars_spark.operators.search import keyword_search

    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "doc_id long, text string")
    got = {r["doc_id"]: r for r in keyword_search(df, query).collect()}
    terms = {w.lower() for w in query if w}
    for i, d in enumerate(docs):
        tf = Counter(_pytok(d))
        if all(tf[t] > 0 for t in terms):
            assert got[i]["n_terms"] == len(terms)
            assert got[i]["total_tf"] == sum(tf[t] for t in terms)
        else:
            assert i not in got


# ---------------------------------------------------------------------------
# r13 stats battery, wave 12: SCD2/CDC versioning, integrity/skew
# profiles, layout keys, walk-forward CV, markup stripping vs sequential
# Python references.
# ---------------------------------------------------------------------------


@given(
    history=st.lists(
        st.tuples(st.integers(1, 2), st.integers(0, 30), st.sampled_from(["a", "b", None])),
        min_size=1,
        max_size=12,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@SET
def test_scd2_merge_asof_walk_property(spark, history):
    """scd2_merge built from scratch matches the per-key change walk
    (NULL is a value, not a wildcard); scd2_asof_join then resolves every
    probe time to the version valid at that instant."""
    from ffn_polars_spark.operators.scd import scd2_asof_join, scd2_merge

    empty = spark.createDataFrame(
        [], "k int, attr string, valid_from long, valid_to long"
    )
    updates = spark.createDataFrame(history, "k int, ts long, attr string").select(
        "k", "attr", F.col("ts").alias("ts_ns")
    )
    dim = scd2_merge(empty, updates, "k", ["attr"])
    got = {
        (r["k"], r["valid_from"]): (r["attr"], r["valid_to"])
        for r in dim.collect()
    }

    want = {}
    for k in {k for k, _, _ in history}:
        seq = sorted((t, a) for kk, t, a in history if kk == k)
        versions = []
        for t, a in seq:
            if not versions or versions[-1][1] != a:
                versions.append((t, a))
        for i, (t, a) in enumerate(versions):
            vto = versions[i + 1][0] if i + 1 < len(versions) else None
            want[(k, t)] = (a, vto)
    assert got == want

    # as-of probes at every event time and one before/after
    probes = sorted({t for _, t, _ in history} | {0, 31})
    facts = spark.createDataFrame(
        [(k, t) for k in {k for k, _, _ in history} for t in probes],
        "k int, ts_ns long",
    )
    res = {
        (r["k"], r["ts_ns"]): r["attr"]
        for r in scd2_asof_join(facts, dim, "k").collect()
    }
    for k in {k for k, _, _ in history}:
        vs = sorted((t for (kk, t) in want if kk == k))
        for t in probes:
            live = [vt for vt in vs if vt <= t]
            expect = want[(k, live[-1])][0] if live else None
            assert res[(k, t)] == expect


@given(
    snap=st.lists(
        st.tuples(st.integers(0, 6), st.sampled_from(["x", "y"])),
        min_size=0, max_size=6, unique_by=lambda t: t[0],
    ),
    log=st.lists(
        st.tuples(
            st.integers(0, 6), st.integers(0, 20),
            st.sampled_from(["I", "U", "D"]), st.sampled_from(["p", "q"]),
        ),
        min_size=1, max_size=10, unique_by=lambda t: (t[0], t[1]),
    ),
)
@SET
def test_cdc_merge_dict_property(spark, snap, log):
    """cdc_merge matches the last-change-wins dict walk."""
    from ffn_polars_spark.operators.scd import cdc_merge

    sdf = spark.createDataFrame(snap or [(99, "z")], "k int, v string")
    base = dict(snap) if snap else {99: "z"}
    cdf = spark.createDataFrame(log, "k int, ts long, op string, v string")
    got = {r["k"]: r["v"] for r in cdc_merge(sdf, cdf, "k", "ts", "op", ["v"]).collect()}

    last = {}
    for k, ts, op, v in log:
        if k not in last or ts > last[k][0]:
            last[k] = (ts, op, v)
    want = dict(base)
    for k, (_, op, v) in last.items():
        if op == "D":
            want.pop(k, None)
        else:
            want[k] = v
    assert got == want


@given(
    facts=st.lists(st.sampled_from([1, 1, 2, 3, None]), min_size=1, max_size=15),
    dims=st.lists(st.integers(1, 5), min_size=0, max_size=5, unique=True),
)
@SET
def test_join_profile_python_property(spark, facts, dims):
    """join_profile matches the Python referential-integrity walk."""
    from ffn_polars_spark.operators.quality import join_profile

    fdf = spark.createDataFrame([(k,) for k in facts], "fk int")
    ddf = spark.createDataFrame([(k,) for k in dims] or [(None,)], "dk int")
    dset = set(dims)
    got = join_profile(fdf, ddf, "fk", "dk").collect()[0]

    n_null = sum(1 for k in facts if k is None)
    matched = [k for k in facts if k is not None and k in dset]
    orphans = [k for k in facts if k is not None and k not in dset]
    from collections import Counter

    fan = Counter(matched)
    assert got["n_facts"] == len(facts)
    assert got["n_null_keys"] == n_null
    assert got["n_orphan_facts"] == len(orphans)
    assert got["match_rate"] == pytest.approx(
        round(len(matched) / len(facts), 6), abs=1.5e-6
    )
    n_dim = len(dset) if dims else (1 if not dims else 0)
    if dims:
        assert got["n_dim_keys"] == len(dset)
        assert got["n_unused_dim_keys"] == len(dset - set(fan))
    assert got["max_fanout"] == (max(fan.values()) if fan else 0)


@given(
    keys=st.lists(st.sampled_from(["hot", "hot", "hot", "a", "b", "c"]), min_size=1, max_size=20),
    top_k=st.sampled_from([2, 5]),
)
@SET
def test_skew_profile_counter_property(spark, keys, top_k):
    """skew_profile matches the Counter walk: top-k hot keys, shares,
    and the recommended salt bucket count."""
    import math as m
    from collections import Counter

    from ffn_polars_spark.operators.skew import skew_profile

    df = spark.createDataFrame([(k,) for k in keys], "key string")
    got = {r["key"]: r for r in skew_profile(df, "key", top_k=top_k).collect()}

    c = Counter(keys)
    tot = len(keys)
    top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
    assert set(got) == {k for k, _ in top}
    mx = max(c.values())
    rec = m.ceil(mx / (tot / len(c)))
    for rank, (k, n) in enumerate(top, 1):
        g = got[k]
        assert g["n_rows"] == n and g["rank"] == rank
        assert g["share"] == pytest.approx(n / tot, rel=1e-12)
        assert g["n_keys"] == len(c)
        assert g["max_share"] == pytest.approx(mx / tot, rel=1e-12)
        assert g["recommended_buckets"] == rec


@given(
    vals=st.lists(
        st.sampled_from([-10.0, 0.0, 0.5, 1.0, 1.0, 3.0, 99.0]),
        min_size=1,
        max_size=20,
    )
)
@SET
def test_group_quantiles_histogram_numpy_property(spark, vals):
    """group_quantiles matches numpy linear percentiles; value_histogram
    matches the clamped fixed-width binning walk."""
    import numpy as np
    from collections import Counter

    from ffn_polars_spark.operators.sketch import group_quantiles, value_histogram

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    gq = group_quantiles(df, "v", quantiles=(0.25, 0.5, 0.9)).collect()[0]
    x = np.array(vals)
    for q, name in ((25, "p25"), (50, "p50"), (90, "p90")):
        assert gq[name] == pytest.approx(
            round(float(np.percentile(x, q, method="linear")), 6), abs=1.5e-6
        )

    lo, hi, nbins = 0.0, 4.0, 4
    vh = {r["bin"]: r for r in value_histogram(df, "v", lo, hi, nbins).collect()}
    width = (hi - lo) / nbins
    c = Counter(
        min(nbins - 1, max(0, int((v - lo) // width))) for v in vals
    )
    assert set(vh) == set(c)
    for b, n in c.items():
        assert vh[b]["n"] == n
        assert vh[b]["bin_lo"] == pytest.approx(lo + b * width, rel=1e-12)


@given(
    rows=st.lists(
        st.tuples(st.sampled_from([1, 1, 2, None]), st.sampled_from(["x", "y", None])),
        min_size=1,
        max_size=15,
    )
)
@SET
def test_column_profile_exact_python_property(spark, rows):
    """column_profile(exact=True) matches Python null/distinct counts
    per column."""
    from ffn_polars_spark.operators.sketch import column_profile

    df = spark.createDataFrame(rows, "a int, b string")
    got = {r["column"]: r for r in column_profile(df, exact=True).collect()}
    for i, col in enumerate(["a", "b"]):
        vs = [r[i] for r in rows]
        assert got[col]["n"] == len(rows)
        assert got[col]["n_null"] == sum(1 for v in vs if v is None)
        assert got[col]["n_distinct"] == len({v for v in vs if v is not None})


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 255), st.integers(0, 255)),
        min_size=1,
        max_size=15,
    ),
    bits=st.sampled_from([4, 8]),
)
@SET
def test_zorder_key_interleave_property(spark, pts, bits):
    """zorder_key matches the Python Morton bit interleave."""
    from ffn_polars_spark.operators.pipeline import zorder_key

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {r["id"]: r["zorder"] for r in zorder_key(df, "x", "y", bits=bits).collect()}
    for i, x, y in rows:
        z = 0
        for b in range(bits):
            z += ((x >> b) & 1) << (2 * b)
            z += ((y >> b) & 1) << (2 * b + 1)
        assert got[i] == z


@given(
    ts=st.lists(st.integers(0, 100), min_size=3, max_size=20, unique=True),
    n_folds=st.sampled_from([2, 4]),
)
@SET
def test_walkforward_split_quantile_property(spark, ts, n_folds):
    """walkforward_split matches the numpy quantile-block walk: train
    blocks strictly precede each fold's test block."""
    import numpy as np

    from ffn_polars_spark.operators.pipeline import walkforward_split

    df = spark.createDataFrame([(t,) for t in ts], "ts long")
    got = {
        (r["ts"], r["fold"]): r["role"]
        for r in walkforward_split(df, "ts", n_folds=n_folds).collect()
    }
    # replicate Spark's percentile formula bit-for-bit: h = q*(n-1) with
    # q the SAME double (np.percentile's q/100 re-rounds q at the ulp,
    # which flips a `t > cut` comparison when the cut lands exactly on a
    # data point — a test-reference artifact, not an operator defect)
    xs = sorted(float(t) for t in ts)

    def cut_at(q):
        h = q * (len(xs) - 1)
        lo = int(math.floor(h))
        frac = h - lo
        return xs[lo] + frac * (xs[lo + 1] - xs[lo]) if frac else xs[lo]

    qs = [i / (n_folds + 1.0) for i in range(1, n_folds + 1)]
    cuts = [cut_at(q) for q in qs]
    want = {}
    for t in ts:
        b = sum(1 for c in cuts if t > c)
        for f in range(1, n_folds + 1):
            if b < f:
                want[(t, f)] = "train"
            elif b == f:
                want[(t, f)] = "test"
    assert got == want


@given(
    texts=st.lists(
        st.sampled_from(
            ["<b>hi</b> there", "a &amp;lt; b", "no tags", "&lt;x&gt;", "  s p  ",
             "<a href='u'>link</a>&nbsp;end", "&quot;q&quot; &#39;s&#39;"]
        ),
        min_size=1,
        max_size=8,
    )
)
@SET
def test_strip_markup_regex_property(spark, texts):
    """strip_markup matches the Python regex/entity chain (&amp; last)."""
    import re

    from ffn_polars_spark.operators.text import strip_markup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["clean_text"] for r in strip_markup(df).collect()}
    for i, t in rows:
        s = re.sub(r"<[^>]*>", " ", t)
        for ent, ch in (
            ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
            ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
        ):
            s = s.replace(ent, ch)
        s = re.sub(r"\s+", " ", s).strip()
        assert got[i] == s


@given(docs=st.lists(st.sampled_from(_W8_DOCS), min_size=1, max_size=8), k=st.sampled_from([2, 50]))
@SET
def test_vocab_topk_counter_property(spark, docs, k):
    """vocab_topk matches the Counter (freq desc, token asc) top-k."""
    from collections import Counter

    from ffn_polars_spark.operators.text import vocab_topk

    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "doc_id long, text string")
    got = [(r["token"], r["freq"]) for r in vocab_topk(df, k=k).collect()]
    c = Counter(t for d in docs for t in _pytok(d))
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    assert got == want


# ---------------------------------------------------------------------------
# r13 stats battery, wave 13: deterministic corpus splits/mixes replayed
# with hashlib, fuzzy linkage vs DP Levenshtein, KMV overlap, pairs
# spread, schema-evolution union.
# ---------------------------------------------------------------------------


def _md5bucket(id_, salt="", buckets=10_000):
    import hashlib

    return int(hashlib.md5(f"{id_}{salt}".encode()).hexdigest()[:8], 16) % buckets


@given(
    ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=25, unique=True),
    salt=st.sampled_from(["", "v2"]),
)
@SET
def test_deterministic_split_replay_property(spark, ids, salt):
    """deterministic_split replays outside Spark: md5 bucket -> cumulative
    weight cutoffs."""
    from ffn_polars_spark.operators.pipeline import deterministic_split

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    got = {
        r["doc_id"]: (r["bucket"], r["split"])
        for r in deterministic_split(df, weights=w, salt=salt).collect()
    }
    for i in ids:
        b = _md5bucket(i, salt)
        cut_train = int(round(0.8 * 10_000))
        cut_val = int(round(0.9 * 10_000))
        split = "train" if b < cut_train else ("val" if b < cut_val else "test")
        assert got[i] == (b, split)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10_000), st.sampled_from(["web", "book", "code"])),
        min_size=1,
        max_size=25,
        unique_by=lambda t: t[0],
    )
)
@SET
def test_stratified_sample_domain_mix_replay_property(spark, rows):
    """stratified_sample and domain_mix keep decisions replay with
    hashlib buckets and the documented r6 rate rounding."""
    import math as m
    from collections import Counter

    from ffn_polars_spark.operators.pipeline import domain_mix, stratified_sample

    df = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {"web": 0.3, "book": 1.0}
    got_s = {
        r["doc_id"]: r["keep"]
        for r in stratified_sample(df, rates, default_rate=0.5).collect()
    }
    B = 10_000
    for i, s in rows:
        rate = rates.get(s, 0.5)
        cut = m.floor(rate * B + 0.5)
        assert got_s[i] == (_md5bucket(i) < cut)

    targets = {"web": 0.5, "book": 0.5}
    got_m = {
        r["doc_id"]: (r["keep"], r["rate"])
        for r in domain_mix(df, targets).collect()
    }
    counts = Counter(s for _, s in rows)
    present = {d: t for d, t in targets.items() if counts.get(d)}
    if present:
        scale = min(counts[d] / t for d, t in present.items())
        for i, s in rows:
            t = targets.get(s, 0.0)
            if t > 0 and counts.get(s):
                raw = scale * t / counts[s]
                rate = m.floor(min(raw, 1.0) * 1e6 + 0.5) / 1e6
            else:
                rate = 0.0
            cut = m.floor(rate * B + 0.5)
            assert got_m[i][0] == (_md5bucket(i) < cut)
            assert got_m[i][1] == pytest.approx(rate, abs=1e-12)


def _lev(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 30),
            st.sampled_from(["cat", "bat", "cart", "dog", "dot", "zebra"]),
            st.sampled_from(["b1", "b2"]),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    max_dist=st.sampled_from([1, 2]),
)
@SET
def test_fuzzy_pairs_levenshtein_property(spark, rows, max_dist):
    """fuzzy_match_pairs matches in-block DP Levenshtein; sorted_fuzzy_
    pairs matches the sorted-window walk."""
    from ffn_polars_spark.operators.dedup import fuzzy_match_pairs, sorted_fuzzy_pairs

    df = spark.createDataFrame(rows, "id long, txt string, blk string")
    got = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in fuzzy_match_pairs(df, "txt", "id", "blk", max_dist=max_dist).collect()
    }
    want = {}
    for i, (ia, ta, ba) in enumerate(rows):
        for ib, tb, bb in rows[i + 1 :]:
            if ba != bb:
                continue
            x, y = (ia, ib) if ia < ib else (ib, ia)
            d = _lev(ta, tb)
            if d <= max_dist:
                want[(x, y)] = d
    assert got == want

    w = 3
    got_s = {
        (r["id_a"], r["id_b"]): r["distance"]
        for r in sorted_fuzzy_pairs(df, "txt", "id", window=w, max_dist=max_dist).collect()
    }
    order = sorted(rows, key=lambda t: (t[1], t[0]))
    want_s = {}
    for i in range(len(order)):
        for j in range(i + 1, min(i + 1 + w, len(order))):
            d = _lev(order[i][1], order[j][1])
            if d <= max_dist:
                want_s[(order[i][0], order[j][0])] = d
    assert got_s == want_s


@given(
    a=st.lists(st.integers(0, 30), min_size=0, max_size=15, unique=True),
    b=st.lists(st.integers(0, 30), min_size=0, max_size=15, unique=True),
)
@SET
def test_corpus_overlap_exact_regime_property(spark, a, b):
    """corpus_overlap's KMV estimates are EXACT below k: counts, the
    inclusion-exclusion intersection, and the distinct Jaccard."""
    from ffn_polars_spark.operators.sketch import corpus_overlap

    da = spark.createDataFrame([(x,) for x in a] or [(None,)], "v int")
    db = spark.createDataFrame([(x,) for x in b] or [(None,)], "v int")
    if not a:
        da = da.where(F.col("v").isNotNull())
    if not b:
        db = db.where(F.col("v").isNotNull())
    got = corpus_overlap(da, db, "v").collect()[0]
    sa, sb = set(a), set(b)
    union = len(sa | sb)
    inter = len(sa & sb)
    assert got["n_a"] == pytest.approx(len(sa), abs=1e-9)
    assert got["n_b"] == pytest.approx(len(sb), abs=1e-9)
    assert got["n_union"] == pytest.approx(union, abs=1e-9)
    assert got["n_intersect"] == pytest.approx(inter, abs=1e-9)
    if union > 0:
        assert got["jaccard"] == pytest.approx(round(inter / union, 6), abs=1.5e-6)
    else:
        assert got["jaccard"] == 0.0


@given(
    rows=st.lists(
        st.tuples(st.sampled_from([0.0, 1.0, 2.0, 5.0]), st.sampled_from([0.0, 1.0, 3.0])),
        min_size=2,
        max_size=20,
    )
)
# exactly collinear legs: the spread is rounding noise (its sd ~1e-16, or 0)
@example(rows=[(0.0, 1.0), (5.0, 3.0), (5.0, 3.0)])
@example(rows=[(0.0, 1.0), (5.0, 0.0), (5.0, 0.0)])
@SET
def test_pairs_spread_numpy_property(spark, rows):
    """pairs_spread matches the numpy OLS-hedge walk: spread residuals
    and in-sample z-scores, NULLs on degenerate variance — a spread sd
    within PAIRS_SD_NOISE of the inputs' scale counts as degenerate."""
    import numpy as np

    from ffn_polars_spark.functions.tick_price import PAIRS_SD_NOISE, pairs_spread

    data = [(i, a, b) for i, (a, b) in enumerate(rows)]
    df = spark.createDataFrame(data, "i long, a double, b double")
    got = {r["i"]: r for r in pairs_spread(df, "a", "b", order_by="i").collect()}

    av = np.array([a for a, _ in rows])
    bv = np.array([b for _, b in rows])
    vb = float(np.var(bv))
    if vb > 0:
        beta = float(((av - av.mean()) * (bv - bv.mean())).mean()) / vb
        alpha = float(av.mean()) - beta * float(bv.mean())
        spreads = av - alpha - beta * bv
        ms = float(spreads.mean())
        sd = float(spreads.std(ddof=1)) if len(rows) >= 2 else 0.0
        tol = PAIRS_SD_NOISE * (float(np.abs(av).max()) + abs(beta) * float(np.abs(bv).max()))
        for i, (a, b) in enumerate(rows):
            assert got[i]["spread"] == pytest.approx(spreads[i], rel=1e-9, abs=1e-9)
            if sd > tol:
                assert got[i]["z"] == pytest.approx(
                    (spreads[i] - ms) / sd, rel=1e-7, abs=1e-9
                )
            else:
                assert got[i]["z"] is None
    else:
        for i in got:
            assert got[i]["spread"] is None and got[i]["z"] is None


@given(seed=st.integers(0, 3))
@SET
def test_union_evolve_schema_property(spark, seed):
    """union_evolve aligns by name, null-fills, widens int->bigint->double,
    and raises on unwidenable types."""
    from ffn_polars_spark.operators.wide import union_evolve

    d1 = spark.createDataFrame([(1, 2)], "a int, b int")
    d2 = spark.createDataFrame([(3.5, "x")], "a double, c string")
    out = union_evolve(d1, d2)
    assert [f.name for f in out.schema.fields] == ["a", "b", "c"]
    types = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert types["a"] == "double" and types["c"] == "string"
    rows = sorted(out.collect(), key=lambda r: r["a"])
    assert rows[0]["a"] == 1.0 and rows[0]["b"] == 2 and rows[0]["c"] is None
    assert rows[1]["a"] == 3.5 and rows[1]["b"] is None and rows[1]["c"] == "x"

    d3 = spark.createDataFrame([("s",)], "a string")
    with pytest.raises(TypeError):
        union_evolve(d1, d3)


# ---------------------------------------------------------------------------
# r13 stats battery, wave 14: the funnel/journey family vs sequential
# walks — ordered funnels, motif n-grams, conversion latency, session
# openings.
# ---------------------------------------------------------------------------


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 4),
            st.integers(0, 30),
            st.sampled_from(["view", "cart", "buy", "other"]),
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@SET
def test_funnel_stages_walk_property(spark, events):
    """funnel_stages matches the strict first-occurrence-order walk;
    conversion is the fraction of the previous stage (NULL off an empty
    stage)."""
    from ffn_polars_spark.operators.funnel import funnel_stages

    stages = ["view", "cart", "buy"]
    df = spark.createDataFrame(events, "user_id int, ts_ns long, event_type string")
    got = {r["stage"]: r for r in funnel_stages(df, stages).collect()}

    firsts = {}
    for u, t, e in events:
        if e in stages:
            firsts.setdefault(u, {}).setdefault(e, t)
            firsts[u][e] = min(firsts[u][e], t)
    n = []
    for i in range(len(stages)):
        cnt = 0
        for u, f in firsts.items():
            ts = [f.get(s) for s in stages[: i + 1]]
            if all(t is not None for t in ts) and all(
                ts[j - 1] < ts[j] for j in range(1, len(ts))
            ):
                cnt += 1
        n.append(cnt)
    for i, s in enumerate(stages):
        assert got[i]["stage_name"] == s
        assert got[i]["n_users"] == n[i]
        if i == 0:
            assert got[i]["conversion"] == 1.0
        elif n[i - 1] > 0:
            assert got[i]["conversion"] == pytest.approx(
                round(n[i] / n[i - 1], 6), abs=1.5e-6
            )
        else:
            assert got[i]["conversion"] is None


@given(
    events=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 25), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=16,
        unique_by=lambda t: (t[0], t[1]),
    ),
    n=st.sampled_from([2, 3]),
)
@SET
def test_event_ngrams_walk_property(spark, events, n):
    """event_ngrams matches the per-key consecutive-run walk."""
    from collections import Counter

    from ffn_polars_spark.operators.funnel import event_ngrams

    df = spark.createDataFrame(events, "user_id int, ts long, item string")
    got = {
        r["gram"]: (r["n_occurrences"], r["n_keys"])
        for r in event_ngrams(df, "ts", "user_id", "item", n=n).collect()
    }
    per_user = {}
    for u, t, e in sorted(events):
        per_user.setdefault(u, []).append(e)
    c = Counter()
    keys = {}
    for u, seq in per_user.items():
        for i in range(len(seq) - n + 1):
            g = "->".join(seq[i : i + n])
            c[g] += 1
            keys.setdefault(g, set()).add(u)
    assert got == {g: (c[g], len(keys[g])) for g in c}


@given(
    events=st.lists(
        st.tuples(
            st.integers(1, 4),
            st.integers(0, 40),
            st.sampled_from(["signup", "buy", "view"]),
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@SET
def test_time_to_convert_walk_property(spark, events):
    """time_to_convert matches the walk: first signup, first buy at or
    after it, exact latency quantiles over converters."""
    import numpy as np

    from ffn_polars_spark.operators.funnel import time_to_convert

    df = spark.createDataFrame(events, "user_id int, ts long, event_type string")
    got = time_to_convert(df, "user_id", "event_type", "ts", "signup", "buy").collect()

    deltas = []
    started = 0
    for u in {u for u, _, _ in events}:
        seq = sorted((t, e) for uu, t, e in events if uu == u)
        t0 = next((t for t, e in seq if e == "signup"), None)
        if t0 is None:
            continue
        started += 1
        t1 = next((t for t, e in seq if e == "buy" and t >= t0), None)
        if t1 is not None:
            deltas.append(float(t1 - t0))
    if started == 0:
        assert got == [] or got[0]["n_started"] == 0
        return
    r = got[0]
    assert r["n_started"] == started
    assert r["n_converted"] == len(deltas)
    assert r["conversion_rate"] == pytest.approx(len(deltas) / started, rel=1e-12)
    if deltas:
        assert r["p50_delta"] == pytest.approx(
            float(np.percentile(deltas, 50, method="linear")), rel=1e-9, abs=1e-12
        )
        assert r["p90_delta"] == pytest.approx(
            float(np.percentile(deltas, 90, method="linear")), rel=1e-9, abs=1e-12
        )
    else:
        assert r["p50_delta"] is None


@given(
    events=st.lists(
        st.tuples(st.integers(1, 4), st.integers(0, 25), st.sampled_from(["a", "b", "c"])),
        min_size=1,
        max_size=18,
        unique_by=lambda t: (t[0], t[1]),
    ),
    max_events=st.sampled_from([2, 5]),
)
@SET
def test_session_paths_walk_property(spark, events, max_events):
    """session_paths matches the first-k-types walk with the
    (count desc, path asc) top-k cut."""
    from collections import Counter

    from ffn_polars_spark.operators.funnel import session_paths

    df = spark.createDataFrame(events, "user_id int, ts long, event_type string")
    got = [
        (r["path"], r["n_users"], r["rank"])
        for r in session_paths(
            df, "user_id", "event_type", "ts", max_events=max_events, top_k=10
        ).orderBy("rank").collect()
    ]
    per_user = {}
    for u, t, e in sorted(events):
        per_user.setdefault(u, []).append(e)
    c = Counter("->".join(seq[:max_events]) for seq in per_user.values())
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    assert got == [(p, n, i + 1) for i, (p, n) in enumerate(want)]


# ---------------------------------------------------------------------------
# r13 stats battery, wave 15: sessionization, the inverted index, and
# ExactSubstr-style span scrubbing vs sequential Python walks.
# ---------------------------------------------------------------------------


@given(
    events=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 60)),
        min_size=1,
        max_size=20,
        unique_by=lambda t: (t[0], t[1]),
    ),
    gap=st.sampled_from([5, 20]),
)
@SET
def test_sessionize_stats_walk_property(spark, events, gap):
    """sessionize assigns 0-based per-key session ids at gap boundaries;
    session_stats reports the matching counts and durations."""
    from ffn_polars_spark.operators.sessions import session_stats, sessionize

    df = spark.createDataFrame(events, "user_id int, ts long")
    got = {
        (r["user_id"], r["ts"]): r["session_id"]
        for r in sessionize(df, "ts", "user_id", gap).collect()
    }
    want = {}
    sess_rows = {}
    for u in {u for u, _ in events}:
        ts = sorted(t for uu, t in events if uu == u)
        sid = -1
        prev = None
        for t in ts:
            if prev is None or t - prev > gap:
                sid += 1
            want[(u, t)] = sid
            sess_rows.setdefault((u, sid), []).append(t)
            prev = t
    assert got == want

    stats = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["duration"])
        for r in session_stats(df, "ts", "user_id", gap).collect()
    }
    assert stats == {
        k: (len(v), max(v) - min(v)) for k, v in sess_rows.items()
    }


@given(
    docs=st.lists(st.sampled_from(_W8_DOCS), min_size=1, max_size=8),
    min_docs=st.sampled_from([1, 2]),
)
@SET
def test_inverted_index_walk_property(spark, docs, min_docs):
    """inverted_index matches the distinct-presence walk with sorted
    posting lists and the min_docs cut."""
    from ffn_polars_spark.operators.search import inverted_index

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["token"]: (r["n_docs"], list(r["doc_ids"]))
        for r in inverted_index(df, min_docs=min_docs).collect()
    }
    post = {}
    for i, d in rows:
        for t in set(_pytok(d)):
            post.setdefault(t, set()).add(i)
    want = {
        t: (len(ids), sorted(ids))
        for t, ids in post.items()
        if len(ids) >= min_docs
    }
    assert got == want


@given(
    docs=st.lists(
        st.sampled_from(
            ["a b c d e f", "a b c d x y", "z z z", "a b c d e q",
             "one two three four five", ""]
        ),
        min_size=1,
        max_size=6,
    ),
    width=st.sampled_from([3, 4]),
)
@SET
def test_scrub_spans_exactsubstr_walk_property(spark, docs, width):
    """scrub_spans matches the ExactSubstr walk: a word is dropped when
    any width-word span covering it appears in >= 2 distinct docs."""
    from ffn_polars_spark.operators.text import scrub_spans

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_clean"], r["n_words"], r["n_removed"])
        for r in scrub_spans(df, width=width, min_docs=2).collect()
    }

    words = {i: d.split(" ") for i, d in rows}
    span_docs = {}
    for i, ws in words.items():
        for p in range(len(ws) - width + 1):
            span_docs.setdefault(" ".join(ws[p : p + width]), set()).add(i)
    dup = {s for s, ids in span_docs.items() if len(ids) >= 2}
    for i, ws in words.items():
        covered = set()
        for p in range(len(ws) - width + 1):
            if " ".join(ws[p : p + width]) in dup:
                covered.update(range(p, p + width))
        kept = [w for j, w in enumerate(ws) if j not in covered]
        g = got[i]
        assert g[0] == " ".join(kept)
        assert g[1] == len(ws)
        assert g[2] == len(covered)
