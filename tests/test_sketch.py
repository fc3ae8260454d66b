"""Sketch/sampling operators: KMV accuracy + determinism, bottom-k sample
exact-k + partitioning-independence, vocab_topk ordering, duplicate_spans
semantics on planted duplicates."""

import pytest
from pyspark.sql import functions as F

from ffn_polars_spark.operators.sketch import (
    bottomk_sample,
    group_quantiles,
    kmv_distinct,
    value_histogram,
)
from ffn_polars_spark.operators.similarity import semantic_dedup
from ffn_polars_spark.operators.text import duplicate_spans, vocab_topk


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(0, 5000).select(
        F.col("id"), (F.col("id") % 7).alias("grp"), (F.col("id") % 997).alias("val")
    )


def test_kmv_estimate_within_error(spark, ids):
    # 997 distinct vals; k=256 -> stderr ~ 1/sqrt(254) ~ 6.3%; allow 4 sigma
    row = kmv_distinct(ids, "val", k=256).collect()[0]
    assert row.n_seen == 256
    assert abs(row.kmv_estimate - 997) / 997 < 0.25

    # small-n branch: fewer distinct values than k -> exact count
    exact = kmv_distinct(ids, "grp", k=64).collect()[0]
    assert exact.n_seen == 7 and exact.kmv_estimate == 7.0


def test_kmv_grouped_and_prefilter_identical(spark, ids):
    with_f = kmv_distinct(ids, "val", group_by=["grp"], k=64, prefilter=True)
    no_f = kmv_distinct(ids, "val", group_by=["grp"], k=64, prefilter=False)
    assert sorted(map(tuple, with_f.collect())) == sorted(map(tuple, no_f.collect()))
    assert with_f.count() == 7


def test_kmv_deterministic_across_partitioning(spark, ids):
    a = kmv_distinct(ids.repartition(13), "val", k=128).collect()[0]
    b = kmv_distinct(ids.coalesce(1), "val", k=128).collect()[0]
    assert a.kmv_estimate == b.kmv_estimate


def test_bottomk_exact_k_and_partition_independent(spark, ids):
    s1 = bottomk_sample(ids, 40, id_col="id")
    s2 = bottomk_sample(ids.repartition(17), 40, id_col="id")
    r1 = sorted(r.id for r in s1.collect())
    r2 = sorted(r.id for r in s2.collect())
    assert len(r1) == 40 and r1 == r2
    # the helper column must not leak
    assert "__h" not in s1.columns


def test_bottomk_plan_is_take_ordered(spark, ids):
    from ffn_polars_spark.plans import plan_nodes

    plan = plan_nodes(bottomk_sample(ids, 10, id_col="id"))
    assert "TakeOrderedAndProjectExec" in [n.name for n in plan]


def test_vocab_topk_order_and_ties(spark):
    df = spark.createDataFrame(
        [(0, "b b b a a c"), (1, "a c d")], ["doc_id", "text"]
    )
    rows = vocab_topk(df, k=3).collect()
    assert [(r.token, r.freq) for r in rows] == [("a", 3), ("b", 3), ("c", 2)]


def test_duplicate_spans_planted(spark):
    shared = "one two three four five six"
    df = spark.createDataFrame(
        [
            (0, shared),                      # 2 spans, both shared with doc 1
            (1, shared + " seven"),           # 3 spans, 2 shared
            (2, "alpha beta gamma delta epsilon"),  # 1 span, unique
            (3, "too short"),                 # < width -> no spans
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in duplicate_spans(df, width=5).collect()}
    assert set(out) == {0, 1, 2}
    assert (out[0].n_spans, out[0].dup_spans, out[0].dup_frac) == (2, 2, 1.0)
    assert (out[1].n_spans, out[1].dup_spans) == (3, 2)
    assert (out[2].n_spans, out[2].dup_spans, out[2].dup_frac) == (1, 0, 0.0)


def test_group_quantiles_exact(spark, ids):
    # vals 0..996 uniformly over 5000 rows: p50 of 0..4999 % 997 — check
    # against numpy's linear-interpolation percentile on the same data
    import numpy as np

    vals = np.arange(5000) % 997
    out = group_quantiles(ids, "val", quantiles=(0.5, 0.9)).collect()[0]
    assert out.p50 == round(float(np.percentile(vals, 50)), 6)
    assert out.p90 == round(float(np.percentile(vals, 90)), 6)


def test_value_histogram_total_and_clamped(spark, ids):
    # val in [0, 996]; hi=500 forces clamping into the last bin
    h = value_histogram(ids, "val", lo=0.0, hi=500.0, nbins=5, group_by=["grp"])
    rows = h.collect()
    assert sum(r.n for r in rows) == 5000  # total: nothing dropped
    assert all(0 <= r.bin <= 4 for r in rows)
    assert {r.bin_lo for r in rows} <= {0.0, 100.0, 200.0, 300.0, 400.0}


def test_semantic_dedup_clusters_planted_neighbors(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(6, 16).astype(float)
    base[1] = base[0] + 0.01 * rng.randn(16)   # near-dup of 0
    base[3] = base[2] + 0.01 * rng.randn(16)   # near-dup of 2
    rows = [(i, [float(x) for x in base[i]]) for i in range(6)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    out = {r.vec_id: r for r in
           semantic_dedup(df, threshold=0.95, method="bruteforce").collect()}
    assert len(out) == 6
    assert out[1].canonical_id == 0 and out[1].is_duplicate
    assert out[3].canonical_id == 2 and out[3].is_duplicate
    for i in (0, 2, 4, 5):
        assert out[i].canonical_id == i and not out[i].is_duplicate

    # LSH path finds the same clusters (enough tables at this tiny scale)
    lsh = {r.vec_id: r.canonical_id for r in
           semantic_dedup(df, threshold=0.95, method="lsh", tables=8).collect()}
    assert lsh == {i: out[i].canonical_id for i in out}


def test_tfidf_topterms_semantics(spark):
    from ffn_polars_spark.operators.text import tfidf_topterms
    import math

    df = spark.createDataFrame(
        [
            (0, "apple apple banana shared"),
            (1, "cherry shared"),
            (2, "banana cherry shared"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_topterms(df, m=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # 'shared' is in all 3 docs -> idf = ln(1) = 0, never a top term above
    # any distinctive one; doc 0's top term is 'apple' (tf=2, df=1)
    top0 = by_doc[0][0]
    assert top0.term == "apple" and top0.tf == 2
    assert top0.tfidf == round(2 * math.log(3.0 / 1.0), 6)
    assert all(r.rank <= 2 for r in out)
    # ranks are dense per doc starting at 1
    assert [r.rank for r in sorted(by_doc[1], key=lambda r: r.rank)] == [1, 2]


def test_column_profile_exact_and_approx(spark):
    from ffn_polars_spark.operators.sketch import column_profile

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")],
        "x INT, s STRING",
    )
    prof = {r.column: r for r in column_profile(df, exact=True).collect()}
    assert set(prof) == {"x", "s"}
    assert prof["x"].n == 4 and prof["x"].n_null == 1 and prof["x"].n_distinct == 2
    assert prof["s"].n_null == 1 and prof["s"].n_distinct == 2
    # approx mode: same shape, estimates exact at this tiny cardinality
    approx = {r.column: r for r in column_profile(df).collect()}
    assert approx["x"].n_distinct == 2 and approx["s"].n_distinct == 2


def test_corpus_overlap_disjoint_and_identical(spark):
    from ffn_polars_spark.operators.sketch import corpus_overlap

    a = spark.createDataFrame([(f"a{i}",) for i in range(40)], ["v"])
    b = spark.createDataFrame([(f"b{i}",) for i in range(60)], ["v"])
    # disjoint, below k: all estimates exact, intersection 0
    r = corpus_overlap(a, b, "v", k=256).collect()[0]
    assert (r.n_a, r.n_b, r.n_union) == (40.0, 60.0, 100.0)
    assert r.n_intersect == 0.0 and r.jaccard == 0.0
    # identical corpora: union == both, jaccard 1
    r2 = corpus_overlap(a, a, "v", k=256).collect()[0]
    assert r2.n_union == 40.0 and r2.n_intersect == 40.0 and r2.jaccard == 1.0


def test_corpus_overlap_estimation_branch(spark):
    from ffn_polars_spark.operators.sketch import corpus_overlap

    a = spark.range(0, 3000).select(F.col("id").cast("string").alias("v"))
    b = spark.range(1500, 4500).select(F.col("id").cast("string").alias("v"))
    r = corpus_overlap(a, b, "v", k=256).collect()[0]
    # true: |A|=|B|=3000, union 4500, inter 1500, jaccard 1/3; k=256 ->
    # stderr ~6%, allow generous 4-sigma bands
    assert abs(r.n_union - 4500) / 4500 < 0.25
    assert abs(r.n_intersect - 1500) / 1500 < 0.75
    assert 0.1 < r.jaccard < 0.6


def test_kmv_and_overlap_tolerate_empty_inputs(spark):
    from ffn_polars_spark.operators.sketch import corpus_overlap, kmv_distinct

    empty = spark.createDataFrame([], "v STRING")
    r = kmv_distinct(empty, "v", k=16).collect()[0]
    assert r.n_seen == 0 and r.kmv_estimate == 0.0
    # one empty side: intersection 0, jaccard defined (0.0), no ANSI errors
    b = spark.createDataFrame([("x",), ("y",)], ["v"])
    o = corpus_overlap(empty, b, "v", k=16).collect()[0]
    assert (o.n_a, o.n_b, o.n_union, o.n_intersect, o.jaccard) == (0.0, 2.0, 2.0, 0.0, 0.0)
    # both empty: jaccard falls back to 0.0 rather than dividing by zero
    o2 = corpus_overlap(empty, empty, "v", k=16).collect()[0]
    assert o2.n_union == 0.0 and o2.jaccard == 0.0


def test_robust_outliers_median_mad_fence(spark):
    from ffn_polars_spark.operators.sketch import robust_outliers

    vals = [float(v) for v in range(1, 10)] + [100.0]
    df = spark.createDataFrame([("g", v) for v in vals], ["grp", "x"])
    row = robust_outliers(df, "x", group_by=["grp"], k=3.0).collect()[0]
    # median of 1..9,100 = 5.5; absdevs sorted: [.5,.5,1.5,1.5,2.5,2.5,3.5,
    # 3.5,4.5,94.5] -> MAD 2.5; fence 3*1.4826*2.5 = 11.12 -> only 100 flagged
    assert row.n == 10
    assert row.median == 5.5
    assert row.mad == 2.5
    assert row.n_outliers == 1
    assert row.outlier_frac == 0.1


def test_robust_outliers_no_groups_and_approx_path(spark):
    from ffn_polars_spark.operators.sketch import robust_outliers

    df = spark.range(0, 1000).select(F.col("id").cast("double").alias("x"))
    exact = robust_outliers(df, "x").collect()[0]
    assert exact.n == 1000 and exact.median == 499.5
    approx = robust_outliers(df, "x", approx=True).collect()[0]
    # percentile_approx at this accuracy is exact-ish on 1000 distinct values
    assert approx.n == 1000
    assert abs(approx.median - 499.5) <= 1.0


def test_winsorize_clips_into_percentile_band(spark):
    from ffn_polars_spark.operators.sketch import winsorize

    vals = [float(v) for v in range(1, 100)] + [10_000.0]
    df = spark.createDataFrame([("g", v) for v in vals], ["grp", "x"])
    out = winsorize(df, "x", group_by=["grp"], lower=0.01, upper=0.99).collect()
    w = {r.x: r.x_winsorized for r in out}
    import pytest as _pytest

    # p99 of 1..99,10000 (n=100): rank 99*0.99 = 98.01 -> 99 + frac*(10000-99)
    assert w[10_000.0] == _pytest.approx(198.01, rel=1e-9)  # clipped down
    assert w[50.0] == 50.0                     # interior values untouched
    # p1: rank 99*0.01 = 0.99 -> 1 + 0.99*(2-1) = 1.99
    assert w[1.0] == _pytest.approx(1.99, rel=1e-9)  # low tail clipped up
    assert len(out) == 100                     # row count preserved


def test_feature_scale_zscore_minmax_and_degenerate_guard(spark):
    from ffn_polars_spark.operators.sketch import feature_scale

    rows = [("g", 0.0), ("g", 5.0), ("g", 10.0), ("c", 7.0), ("c", 7.0)]
    df = spark.createDataFrame(rows, ["grp", "x"])
    out = feature_scale(df, "x", group_by=["grp"]).collect()
    g = {r.x: r for r in out if r.grp == "g"}
    assert g[0.0].x_minmax == 0.0 and g[10.0].x_minmax == 1.0
    assert g[5.0].x_minmax == 0.5 and g[5.0].x_zscore == 0.0
    assert g[0.0].x_zscore == -g[10.0].x_zscore  # symmetric
    # constant group: zero variance AND zero range -> NULL, not an error
    c = [r for r in out if r.grp == "c"]
    assert all(r.x_zscore is None and r.x_minmax is None for r in c)


def test_weighted_sample_matches_python_replay_and_biases_heavy(spark):
    import hashlib
    import math

    from ffn_polars_spark.operators.sketch import weighted_sample

    # ids 0..999, weight = 1 for even ids, 100 for odd ids
    rows = [(i, 100.0 if i % 2 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = sorted(
        r.doc_id for r in weighted_sample(df, 100, weight_col="w").collect()
    )

    def key(i, w):
        h = hashlib.md5(f"{i}:wsample:0".encode()).hexdigest()
        u = int(h[17:32], 16) / float(1 << 60)
        return math.log(u) / w

    want = sorted(
        sorted(rows, key=lambda r: (-key(r[0], r[1]), r[0]))[:100]
    )
    assert got == [i for i, _ in want]
    # heavy weights dominate: ~99% of the sample should be odd ids
    odd = sum(1 for i in got if i % 2)
    assert odd > 90

    # zero/negative weights are excluded entirely
    dfz = spark.createDataFrame([(1, 0.0), (2, -3.0), (3, 1.0)], ["doc_id", "w"])
    assert [r.doc_id for r in weighted_sample(dfz, 3, weight_col="w").collect()] == [3]


def test_weighted_quantile_repeats_equivalence(spark):
    from ffn_polars_spark.operators.sketch import weighted_quantile

    # weight w must act exactly like w repeated rows
    rows = [("a", 1.0, 1), ("a", 2.0, 1), ("a", 3.0, 8)]
    r = weighted_quantile(
        spark.createDataFrame(rows, ["g", "v", "w"]), "v", "w",
        group_by=["g"], quantiles=(0.5, 0.9),
    ).collect()[0]
    # expanded sample: 1,2,3x8 (10 values) -> type-1 p50 = 3, p90 = 3
    assert r["p50_w"] == 3.0 and r["p90_w"] == 3.0
    assert r["total_weight"] == 10.0 and r["n"] == 3


def test_weighted_quantile_crossing_boundary(spark):
    from ffn_polars_spark.operators.sketch import weighted_quantile

    # cum weights 4, 8; p50 target = 4 -> first value crossing is v=1
    rows = [("a", 1.0, 4), ("a", 2.0, 4)]
    r = weighted_quantile(
        spark.createDataFrame(rows, ["g", "v", "w"]), "v", "w",
        group_by=["g"], quantiles=(0.5,),
    ).collect()[0]
    assert r["p50_w"] == 1.0


def test_abc_analysis_classes(spark):
    from ffn_polars_spark.operators.quality import abc_analysis

    # values 70, 20, 6, 4 of 100: cum-before 0, .7, .9, .96
    rows = (
        [("k1", 70.0)] + [("k2", 20.0)] + [("k3", 6.0)] + [("k4", 4.0)]
    )
    out = {r["k"]: r for r in abc_analysis(
        spark.createDataFrame(rows, ["k", "v"]), "k", "v"
    ).collect()}
    assert out["k1"]["abc_class"] == "A"      # starts at 0
    assert out["k2"]["abc_class"] == "A"      # starts at .70 < .80
    assert out["k3"]["abc_class"] == "B"      # starts at .90 < .95
    assert out["k4"]["abc_class"] == "C"      # starts at .96
    assert abs(out["k2"]["cum_share"] - 0.9) < 1e-12


def test_kmv_distinct_registry_binding():
    """The public registry name must resolve to kmv_distinct itself, not a
    private helper (regression: the decorator once sat on _kmv_sketch,
    silently rebinding the namespace-dispatch name to a different
    signature)."""
    from ffn_polars_spark.operators import sketch
    from ffn_polars_spark.registry import FFN_DF_REGISTRY, FFN_REGISTRY

    assert FFN_DF_REGISTRY["kmv_distinct"] is sketch.kmv_distinct
    for reg in (FFN_DF_REGISTRY, FFN_REGISTRY):
        assert "_kmv_sketch" not in reg
