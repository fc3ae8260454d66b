"""Bootstrap resampling: result shapes (reference tests/df/test_df_core.py)
and statistical sanity of the Poisson single-pass variant."""

import statistics

import pytest
from pyspark.sql import functions as F

from ffn_polars_spark.operators.resample import (
    bootstrap_replicate,
    resample_returns,
    resample_returns_poisson,
)

RETURNS = [0.01, 0.02, -0.01, 0.005, 0.015, -0.002, 0.03, 0.007]


@pytest.fixture(scope="module")
def rdf(spark):
    return spark.createDataFrame([(r,) for r in RETURNS], ["r"])


def test_shape_scalar_func(spark, rdf):
    out = resample_returns(rdf, lambda s: s.agg(F.avg("r")).collect()[0][0], num_trials=5)
    rows = out.orderBy("trial").collect()
    assert out.columns == ["trial", "stat"]
    assert [r["trial"] for r in rows] == [0, 1, 2, 3, 4]


def test_shape_dataframe_func(spark, rdf):
    out = resample_returns(
        rdf,
        lambda s: s.agg(F.avg("r").alias("mean_r"), F.stddev_samp("r").alias("std_r")),
        num_trials=3,
    )
    assert sorted(out.columns) == ["mean_r", "std_r", "trial"]
    assert out.count() == 3


def test_bad_func_type(spark, rdf):
    with pytest.raises(TypeError):
        resample_returns(rdf, lambda s: "nope", num_trials=1)


def test_poisson_replicate_counts(spark, rdf):
    rep = bootstrap_replicate(rdf, num_trials=200, seed=1)
    counts = rep.groupBy("trial").count().collect()
    # each trial resamples ~n rows (Poisson(1) per row): mean ~8, sd ~2.8
    mean_n = statistics.mean(r["count"] for r in counts)
    assert 6.0 < mean_n < 10.0


def test_poisson_bootstrap_stats(spark, rdf):
    out = resample_returns_poisson(rdf, {"mean_r": F.avg("r")}, num_trials=300, seed=3)
    rows = out.collect()
    assert len(rows) >= 295  # a trial can be empty (all counts 0) rarely
    grand = statistics.mean(r["mean_r"] for r in rows)
    assert grand == pytest.approx(statistics.mean(RETURNS), abs=0.01)


@pytest.fixture(scope="module")
def krdf(spark):
    """Keyed returns frame for the deterministic-draw modes."""
    return spark.createDataFrame(
        [(i, r) for i, r in enumerate(RETURNS)], ["rid", "r"]
    )


def test_keyed_poisson_is_deterministic_and_partition_invariant(spark, krdf):
    def counts(df):
        rep = bootstrap_replicate(df, num_trials=50, seed=3, key_col="rid")
        return {
            (r["trial"], r["rid"]): r["cnt"]
            for r in rep.groupBy("trial", "rid").agg(F.count("*").alias("cnt")).collect()
        }

    # the SAMPLE is bit-identical under any partitioning (hash draws ignore
    # physical layout; F.rand draws would not) — float aggregate order may
    # still differ by ulps, so compare the integer replicate counts
    assert counts(krdf) == counts(krdf.repartition(7))
    out = resample_returns_poisson(
        krdf, {"mean_r": F.avg("r")}, num_trials=50, seed=3, key_col="rid"
    ).collect()
    grand = statistics.mean(r["mean_r"] for r in out)
    assert grand == pytest.approx(statistics.mean(RETURNS), abs=0.01)


def test_keyed_poisson_matches_python_replay(spark, krdf):
    """The md5 ladder must replay exactly in plain Python — the portability
    contract the DuckDB oracle relies on."""
    import hashlib

    from ffn_polars_spark.operators.resample import (
        _POISSON1_CDF_16,
        _TRIALS_PER_HASH,
    )

    def reps(key, trial, seed):
        blk, slot = divmod(trial, _TRIALS_PER_HASH)
        hx = hashlib.md5(f"{key}:{blk}:{seed}".encode()).hexdigest()
        h16 = int(hx[4 * slot : 4 * slot + 4], 16)
        for k in range(9):
            if h16 < _POISSON1_CDF_16[k]:
                return k
        return 9

    rep = bootstrap_replicate(krdf, num_trials=20, seed=3, key_col="rid")
    got = {
        (r["trial"], r["rid"]): c
        for (r, c) in (
            (row, row["cnt"])
            for row in rep.groupBy("trial", "rid").agg(F.count("*").alias("cnt")).collect()
        )
    }
    for t in range(20):
        for i in range(len(RETURNS)):
            expect = reps(i, t, 3)
            assert got.get((t, i), 0) == expect, (t, i)


def test_resample_returns_hash_exact_n_of_n(spark, krdf):
    """Every trial draws exactly n rows (with replacement), and the draws
    replay from the hash in plain Python."""
    import hashlib

    from ffn_polars_spark.operators.resample import resample_returns_hash

    n = len(RETURNS)
    out = resample_returns_hash(
        krdf,
        {"n_draws": F.count("*"), "mean_r": F.avg("r")},
        key_col="rid",
        num_trials=10,
        seed=5,
    ).collect()
    assert len(out) == 10
    assert all(r["n_draws"] == n for r in out)

    def draw(trial, j, seed):
        h = int(hashlib.md5(f"{trial}:{j}:{seed}".encode()).hexdigest()[17:32], 16)
        return h % n

    for row in out:
        idxs = [draw(row["trial"], j, 5) for j in range(n)]
        expect = statistics.mean(RETURNS[i] for i in idxs)
        assert row["mean_r"] == pytest.approx(expect, rel=1e-12)


def test_resample_builds_without_spark_context(spark, krdf, monkeypatch):
    """Both resample spreads size their repartition from the shared slot
    count, whose shuffle-partition fallback serves a session with no
    client-side SparkContext (Spark Connect): building must not raise."""
    from pyspark.errors import PySparkAttributeError
    from pyspark.sql import SparkSession

    from ffn_polars_spark.operators.resample import resample_returns_hash

    def no_context(self):
        # what a Spark Connect session raises for ``sparkContext``
        raise PySparkAttributeError(
            errorClass="JVM_ATTRIBUTE_NOT_SUPPORTED",
            messageParameters={"attr_name": "sparkContext"},
        )

    monkeypatch.setattr(SparkSession, "sparkContext", property(no_context))
    reps = bootstrap_replicate(krdf, num_trials=3, seed=1, key_col="rid")
    hashed = resample_returns_hash(
        krdf, {"n_draws": F.count("*")}, key_col="rid", num_trials=3, seed=1
    )
    monkeypatch.undo()
    want = bootstrap_replicate(krdf, num_trials=3, seed=1, key_col="rid")
    assert sorted(reps.collect()) == sorted(want.collect())
    assert [r["n_draws"] for r in hashed.collect()] == [len(RETURNS)] * 3
