"""clean_corpus pipeline: keep/drop decisions and single-pass plan shape."""

from pyspark.sql import functions as F

from ffn_polars_spark.operators.pipeline import clean_corpus
from ffn_polars_spark.plans import has_join, plan_nodes


def test_clean_corpus_decisions(spark):
    docs = spark.createDataFrame(
        [
            # good English doc: keeps
            (1, "the cat sat on the mat and it was a good day for sitting"),
            # exact duplicate (case/whitespace variant): dropped as duplicate
            (2, "  THE cat sat on the mat and it was a good day FOR sitting "),
            # German doc: language-filtered
            (3, "der hund ist nicht auf der matte und das ist ein problem"),
            # short + all punctuation + no stopwords: quality-filtered
            # (loses length, punct-ratio, and stopword-ratio credits)
            (4, "!!! ??? ###"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in clean_corpus(docs).collect()}
    assert out[1]["keep"] and not out[1]["is_duplicate"]
    assert not out[2]["keep"] and out[2]["is_duplicate"] and out[2]["canonical_id"] == 1
    assert not out[3]["keep"] and out[3]["lang_pred"] == "de"
    assert not out[4]["keep"] and out[4]["quality_score"] < 0.5
    # every input doc gets a decision row
    assert len(out) == 4


def test_clean_corpus_single_scan_plan(spark):
    docs = spark.createDataFrame([(1, "the a of and to in is")], ["doc_id", "text"])
    plan = clean_corpus(docs)._jdf.queryExecution().optimizedPlan()
    found = [n.name for n in plan_nodes(plan)]
    # canonical-id via ONE window over the fingerprint partition (r13) —
    # no aggregate, no join-back: the text features all evaluate in the
    # scan-side projection and the only keyed operation is the window
    assert not [n for n in found if "Aggregate" in n], found
    assert found.count("Window") == 1, found
    assert not has_join(plan), found


def test_cap_per_group_replays_md5_and_is_stable_under_growth(spark):
    import hashlib

    from ffn_polars_spark.operators.pipeline import cap_per_group

    rows = [(i, f"g{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    got = {
        g: sorted(r.doc_id for r in rs)
        for g, rs in __import__("itertools").groupby(
            sorted(
                cap_per_group(df, 5, group_col="source").collect(),
                key=lambda r: r.source,
            ),
            key=lambda r: r.source,
        )
    }

    def key(i):
        h = hashlib.md5(f"{i}:cap:0".encode()).hexdigest()
        return int(h[17:32], 16) / float(1 << 60)

    for g in ("g0", "g1", "g2"):
        members = [i for i, s in rows if s == g]
        want = sorted(sorted(members, key=lambda i: (key(i), i))[:5])
        assert got[g] == want
        assert len(got[g]) == 5

    # groups smaller than the cap survive whole
    small = spark.createDataFrame([(1, "a"), (2, "a")], ["doc_id", "source"])
    assert cap_per_group(small, 5, group_col="source").count() == 2

    # stability: adding rows never evicts a survivor unless the newcomer
    # draws a smaller key (the kept set is the k smallest keys)
    grown = spark.createDataFrame(
        rows + [(i, f"g{i % 3}") for i in range(90, 120)], ["doc_id", "source"]
    )
    got2 = {
        r.doc_id for r in cap_per_group(grown, 5, group_col="source").collect()
    }
    for g in ("g0", "g1", "g2"):
        members = [i for i in range(120) if f"g{i % 3}" == g]
        want = set(sorted(members, key=lambda i: (key(i), i))[:5])
        assert want <= got2


def test_gini_by_group_known_distributions(spark):
    from ffn_polars_spark.operators.quality import gini_by_group

    rows = (
        [(i, "even", 10) for i in range(10)]
        + [(100 + i, "onehot", 0) for i in range(9)]
        + [(199, "onehot", 90)]
        + [(200, "zero", 0), (201, "zero", 0)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    out = {r.source: r for r in gini_by_group(df, "n_chars").collect()}
    # uniform -> 0
    assert abs(out["even"].gini) < 1e-12 and out["even"].total == 100.0
    # one row holds everything -> (n-1)/n
    assert abs(out["onehot"].gini - 0.9) < 1e-12
    # zero total -> NULL (undefined), not an error
    assert out["zero"].gini is None


def test_ks_drift_matches_scipy_style_replay_and_ties(spark):
    from ffn_polars_spark.operators.quality import ks_drift

    # identical distributions -> KS = 0
    rows = [(float(v), s) for v in range(10) for s in ("a", "b")]
    df = spark.createDataFrame(rows, ["v", "side"])
    r = ks_drift(df, "v", "side", "a", "b").collect()[0]
    assert r.ks_stat == 0.0 and r.n_a == 10 and r.n_b == 10

    # disjoint supports -> KS = 1
    dj = spark.createDataFrame(
        [(float(v), "a") for v in range(5)]
        + [(float(v + 100), "b") for v in range(5)],
        ["v", "side"],
    )
    assert ks_drift(dj, "v", "side", "a", "b").collect()[0].ks_stat == 1.0

    # hand-computed with ties: a = [1,1,2,3], b = [1,2,2,4]
    # distinct values 1,2,3,4; ECDF_a = .5,.75,1,1; ECDF_b = .25,.75,.75,1
    # diffs = .25, 0, .25, 0 -> KS = .25
    tied = spark.createDataFrame(
        [(1.0, "a"), (1.0, "a"), (2.0, "a"), (3.0, "a"),
         (1.0, "b"), (2.0, "b"), (2.0, "b"), (4.0, "b")],
        ["v", "side"],
    )
    t = ks_drift(tied, "v", "side", "a", "b").collect()[0]
    assert abs(t.ks_stat - 0.25) < 1e-12
    assert t.n_values == 4

    # other sides are ignored entirely
    extra = spark.createDataFrame(rows + [(999.0, "c")], ["v", "side"])
    assert ks_drift(extra, "v", "side", "a", "b").collect()[0].ks_stat == 0.0


def test_ranged_cumsum_matches_sequential(spark):
    import random

    from ffn_polars_spark.core import ranged_cumsum
    from pyspark.sql import functions as F

    rng = random.Random(7)
    rows = [(rng.uniform(0, 100), rng.randint(1, 9)) for _ in range(5000)]
    df = spark.createDataFrame(rows, ["v", "x"]).repartition(16)
    out = ranged_cumsum(df, ["v"], {"cx": F.col("x")})
    got = {r.v: r.cx for r in out.collect()}
    acc, want = 0, {}
    for v, x in sorted(rows):
        acc += x
        want[v] = acc
    assert got == want


def test_unkeyed_blocked_cumsum_signed_values_across_block_seams(spark):
    """A block's offset is its LAST running value, not its largest: with
    signed addends the two differ and every later block shifts."""
    from itertools import accumulate

    from ffn_polars_spark.core import blocked_keyed_cumsum

    vals = [1, 5, -4, -3, 2, -1, 7, -6, 0.5, 1.5]
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "id long, v double"
    )
    # 3 blocks over ids 0..9: [0, 3], [4, 7], [8, 9]
    out = blocked_keyed_cumsum(df, [], ["id"], {"c": "v"}, num_blocks=3)
    assert [r.c for r in out.orderBy("id").collect()] == list(accumulate(vals))


def test_psi_drift_hand_computed_and_conventions(spark):
    import math

    from ffn_polars_spark.operators.quality import psi_drift

    # identical distributions -> ~0 (eps clamp contributes nothing when
    # both sides occupy the same bins)
    rows = [(float(v), s) for v in range(10) for s in ("a", "b")]
    df = spark.createDataFrame(rows, ["v", "side"])
    r = psi_drift(df, "v", "side", "a", "b", lo=0.0, width=2.0).collect()[0]
    assert abs(r.psi) < 1e-12 and r.n_a == 10 and r.n_b == 10

    # hand-computed two-bin shift: a = 4x bin0, b = 1x bin0 + 3x bin1
    two = spark.createDataFrame(
        [(0.5, "a")] * 4 + [(0.5, "b")] + [(2.5, "b")] * 3, ["v", "side"]
    )
    out = psi_drift(two, "v", "side", "a", "b", lo=0.0, width=2.0).collect()[0]
    eps = 1e-6
    pa = {0: 1.0, 1: eps}          # a has no bin-1 mass -> clamped
    pb = {0: 0.25, 1: 0.75}
    want = sum((pa[k] - pb[k]) * math.log(pa[k] / pb[k]) for k in (0, 1))
    assert abs(out.psi - want) < 1e-9
    assert out.n_bins_used == 2

    # out-of-range values clamp into the edge bins rather than vanishing
    rng = spark.createDataFrame(
        [(-5.0, "a"), (999.0, "a"), (-5.0, "b"), (999.0, "b")], ["v", "side"]
    )
    rr = psi_drift(rng, "v", "side", "a", "b", lo=0.0, width=2.0).collect()[0]
    assert rr.n_a == 2 and rr.n_b == 2 and abs(rr.psi) < 1e-12


def test_wasserstein_hand_computed(spark):
    from ffn_polars_spark.operators.quality import wasserstein_distance

    # a = {0, 1}, b = {1, 2}: W1 = 1 (shift every unit of mass by 1)
    rows = [("a", 0.0), ("a", 1.0), ("b", 1.0), ("b", 2.0)]
    r = wasserstein_distance(
        spark.createDataFrame(rows, ["side", "v"]), "v", "side", "a", "b"
    ).collect()[0]
    assert abs(r["w1"] - 1.0) < 1e-12
    assert r["n_a"] == 2 and r["n_b"] == 2 and r["n_values"] == 3


def test_wasserstein_identical_distributions_zero(spark):
    from ffn_polars_spark.operators.quality import wasserstein_distance

    rows = [("a", 1.0), ("a", 5.0), ("b", 1.0), ("b", 5.0)]
    r = wasserstein_distance(
        spark.createDataFrame(rows, ["side", "v"]), "v", "side", "a", "b"
    ).collect()[0]
    assert r["w1"] == 0.0


def test_wasserstein_unequal_sizes(spark):
    from ffn_polars_spark.operators.quality import wasserstein_distance

    # a = {0}, b = {0, 3}: |F_a - F_b| is 1/2 on [0, 3) -> W1 = 1.5
    rows = [("a", 0.0), ("b", 0.0), ("b", 3.0)]
    r = wasserstein_distance(
        spark.createDataFrame(rows, ["side", "v"]), "v", "side", "a", "b"
    ).collect()[0]
    assert abs(r["w1"] - 1.5) < 1e-12


def test_wasserstein_empty_side_null(spark):
    from ffn_polars_spark.operators.quality import wasserstein_distance

    rows = [("a", 1.0), ("a", 2.0)]
    r = wasserstein_distance(
        spark.createDataFrame(rows, ["side", "v"]), "v", "side", "a", "b"
    ).collect()[0]
    assert r["w1"] is None


def test_lateness_stats_measures_watermark_bound(spark):
    from ffn_polars_spark.operators.quality import lateness_stats

    # arrival order 1,2,3,4 carries event times 10, 30, 20, 40:
    # the third event is 10 late; others on time
    rows = [("k", 1, 10.0), ("k", 2, 30.0), ("k", 3, 20.0), ("k", 4, 40.0)]
    r = lateness_stats(
        spark.createDataFrame(rows, ["g", "arr", "ts"]), "ts", "arr", by="g"
    ).collect()[0]
    assert r["n"] == 4 and r["n_late"] == 1
    assert r["max_lateness"] == 10.0 and r["avg_lateness"] == 10.0
    assert abs(r["frac_late"] - 0.25) < 1e-12


def test_lateness_stats_in_order_stream(spark):
    from ffn_polars_spark.operators.quality import lateness_stats

    rows = [("k", i, float(i)) for i in range(5)]
    r = lateness_stats(
        spark.createDataFrame(rows, ["g", "arr", "ts"]), "ts", "arr", by="g"
    ).collect()[0]
    assert r["n_late"] == 0 and r["max_lateness"] == 0.0
    assert r["avg_lateness"] is None


def test_column_overlap_finds_the_join_key(spark):
    from ffn_polars_spark.operators.quality import column_overlap

    a = spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")], ["id", "tag"])
    b = spark.createDataFrame([(2, 20), (3, 30), (4, 40)], ["ref", "amt"])
    out = {(r["col_a"], r["col_b"]): r for r in column_overlap(
        a, b, ["id", "tag"], ["ref", "amt"]
    ).collect()}
    key = out[("id", "ref")]
    # ids {1,2,3} vs refs {2,3,4}: 2 common of 4 union
    assert key["n_common"] == 2 and abs(key["jaccard"] - 0.5) < 1e-12
    assert out[("tag", "ref")]["n_common"] == 0
    assert len(out) == 4  # full grid, zero-overlap pairs included


def test_heaps_law_on_synthetic_growth(spark):
    from ffn_polars_spark.operators.text import heaps_law

    # every doc repeats one old word and introduces one new word:
    # V grows linearly with docs, N = 2 * docs
    rows = [(i, f"w0 w{i}") for i in range(1, 21)]
    r = heaps_law(
        spark.createDataFrame(rows, ["doc_id", "text"])
    ).collect()[0]
    assert r["n_docs"] == 20
    assert r["total_tokens"] == 40
    assert r["vocab"] == 21
    # V ~ N/2 asymptotically -> beta near 1 on the log-log fit
    assert 0.7 < r["beta"] <= 1.05


def test_qq_data_identical_sides_zero_diff(spark):
    from ffn_polars_spark.operators.quality import qq_data

    rows = [("a", float(i)) for i in range(100)] + [
        ("b", float(i)) for i in range(100)
    ]
    out = qq_data(
        spark.createDataFrame(rows, ["side", "v"]), "v", "side", "a", "b",
        quantiles=(0.25, 0.5, 0.75),
    ).collect()
    assert len(out) == 3
    assert all(r["diff"] == 0.0 for r in out)


def test_qq_data_constant_shift(spark):
    from ffn_polars_spark.operators.quality import qq_data

    rows = [("a", float(i) + 10.0) for i in range(50)] + [
        ("b", float(i)) for i in range(50)
    ]
    out = qq_data(
        spark.createDataFrame(rows, ["side", "v"]), "v", "side", "a", "b",
        quantiles=(0.1, 0.5, 0.9),
    ).collect()
    # a location shift moves EVERY quantile by the same amount
    assert all(abs(r["diff"] - 10.0) < 1e-9 for r in out)
