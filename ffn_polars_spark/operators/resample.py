"""Bootstrap resampling — operator #39 of SURVEY.md §2.9.

Parity target: /root/reference/ffn_polars/df/core.py:9-47 (i.i.d. bootstrap:
each trial draws n rows with replacement and applies a user stat function).

Two implementations:

* :func:`resample_returns` — faithful driver loop of
  ``df.sample(withReplacement=True, fraction=1.0)``; exact n-of-n semantics in
  expectation, one Spark job per trial. Right for moderate trial counts.
* :func:`bootstrap_replicate` / :func:`resample_returns_poisson` — the
  scalable single-pass variant: every (row, trial) pair gets a Poisson(1)
  replicate count (the standard distributed approximation of n-of-n
  with-replacement sampling — multinomial(n, 1/n) marginals converge to
  Poisson(1)), so ALL trials run in one job as a groupBy("trial") aggregate.
  This is the 100 TB path: one shuffle, no driver loop.
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional, Union

from pyspark.sql import Column, DataFrame, Row, Window
from pyspark.sql import functions as F

from ffn_polars_spark.core import _default_block_count
from ffn_polars_spark.registry import register

# Cumulative probabilities of Poisson(1): P(X <= k) for k = 0..9. The tail
# beyond 9 (~1e-7) is folded into the last bucket. Used as an inverse-CDF
# ladder over F.rand() so replication stays entirely JVM-side.
_POISSON1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
    0.9999988747974021,
    1.0,
]

# The same CDF as exact 60-bit integer thresholds, for the portable-hash
# deterministic mode: a 60-bit uniform h replicates k times where k is the
# first bucket with h < threshold.  Integer comparison on both engines —
# no float rounding can diverge.
_POISSON1_CDF_60 = [int(p * (1 << 60)) for p in _POISSON1_CDF]

# 16-bit thresholds for the blocked draw mode: one md5 yields eight 4-hex-
# char (16-bit) uniforms, so the hash cost is amortized 8x.  Quantizing the
# CDF at 2^-16 shifts each bucket probability by < 1.6e-5 — immaterial for a
# bootstrap, and the draw stays bit-identical across engines.
_POISSON1_CDF_16 = [int(p * (1 << 16)) for p in _POISSON1_CDF]
_TRIALS_PER_HASH = 8


def _md5_60(col: Column) -> Column:
    """Engine-portable 60-bit uniform hash of a string column: the low 15
    hex chars of md5 parsed as an integer.  Identical in DuckDB as
    ``('0x' || substr(md5(s), 18, 15))::BIGINT`` — the same idiom the dedup
    oracles use (operators/dedup.py:100-120)."""
    return F.conv(F.substring(F.md5(col), 18, 15), 16, 10).cast("long")


def _poisson_count_60(h: Column) -> Column:
    """Inverse-CDF ladder over a 60-bit integer uniform (deterministic
    replay path; the F.rand path keeps the float ladder)."""
    cnt = F.lit(len(_POISSON1_CDF_60) - 1)
    for k in range(len(_POISSON1_CDF_60) - 2, -1, -1):
        cnt = F.when(h < F.lit(_POISSON1_CDF_60[k]), F.lit(k)).otherwise(cnt)
    return cnt


@register(kind="df")
def resample_returns(
    df: DataFrame,
    func: Callable[[DataFrame], Union[float, int, Row, dict, DataFrame]],
    seed: int = 0,
    num_trials: int = 100,
) -> DataFrame:
    """Bootstrap: for each trial, sample ~n rows with replacement and apply
    ``func``; one output row per trial.

    ``func`` may return a scalar (recorded as column ``stat``), a dict /
    ``Row``, or a 1-row DataFrame (column names preserved) — the same
    result-shape normalization as the reference (df/core.py:31-45).
    """
    spark = df.sparkSession
    results: List[dict] = []
    for i in range(num_trials):
        sample = df.sample(withReplacement=True, fraction=1.0, seed=seed + i)
        result = func(sample)

        if isinstance(result, (float, int)):
            results.append({"trial": i, "stat": float(result)})
        elif isinstance(result, Row):
            results.append({"trial": i, **result.asDict()})
        elif isinstance(result, dict):
            results.append({"trial": i, **result})
        elif isinstance(result, DataFrame):
            rows = result.limit(2).collect()
            if len(rows) != 1:
                raise ValueError("func must return a DataFrame with exactly one row")
            results.append({"trial": i, **rows[0].asDict()})
        else:
            raise TypeError(f"Unsupported return type from func: {type(result)}")

    out = spark.createDataFrame(results)
    ordered = ["trial"] + [c for c in out.columns if c != "trial"]
    return out.select(*ordered)


def bootstrap_replicate(
    df: DataFrame,
    num_trials: int = 100,
    seed: int = 0,
    lam: float = 1.0,
    key_col: Optional[str] = None,
) -> DataFrame:
    """Replicate every row Poisson(lam) times per trial, adding a ``trial``
    column — the single-pass distributed bootstrap (SURVEY.md §2.9 option b).

    The Poisson draw is an inverse-CDF CASE ladder — pure JVM, no UDF, no
    shuffle (the explode is pipelined into whatever consumes it).  Two draw
    modes:

    * default (``key_col=None``): ``F.rand(seed)`` — fastest, but the draw
      depends on partitioning, so runs are only self-consistent.
    * ``key_col=<unique id column>``: engine-portable deterministic draws.
      One md5 of ``key:block:seed`` per 8-trial block yields eight 16-bit
      uniforms (4 hex chars each), each fed to an integer inverse-CDF
      ladder — every engine (and the DuckDB correctness oracle) replays the
      exact same replicate counts, at ~1/8 the naive per-trial hash cost.
    """
    if lam != 1.0:
        raise NotImplementedError("only lam=1.0 (n-of-n bootstrap) is supported")
    # The explode multiplies rows num_trials x and (in keyed mode) hashes
    # every replicate — force the pre-explode stage wide so that work uses
    # every core.  Without this, AQE legitimately coalesces a small upstream
    # output (e.g. a 5-key window) to ONE partition and the whole replicate
    # stage runs single-threaded (measured 26s vs 0.9s at sf0.1).  The extra
    # exchange moves only the un-exploded input: 1/num_trials of the stage's
    # output volume, negligible at any scale.
    df = df.repartition(_default_block_count(df.sparkSession))
    if key_col is not None:
        n_blocks = (num_trials + _TRIALS_PER_HASH - 1) // _TRIALS_PER_HASH
        blocked = (
            df.withColumn(
                "__blk", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
            )
            .withColumn(
                "__hx",
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col(key_col).cast("string"),
                        F.col("__blk").cast("string"),
                        F.lit(str(seed)),
                    )
                ),
            )
            .withColumn(
                "trial",
                F.explode(
                    F.sequence(
                        F.col("__blk") * _TRIALS_PER_HASH,
                        F.least(
                            F.col("__blk") * _TRIALS_PER_HASH
                            + (_TRIALS_PER_HASH - 1),
                            F.lit(num_trials - 1),
                        ),
                    )
                ),
            )
        )
        # The trial's 16-bit uniform is 4 lowercase-hex chars of the block
        # hash.  md5 hex and the [0-9a-f] alphabet make LEXICOGRAPHIC string
        # order identical to integer order, so the inverse-CDF ladder
        # compares the substring against hex-string thresholds directly —
        # no conv(16,10) + decimal-string cast per trial row (measured ~17%
        # faster at sf0.1; replicate counts are bit-identical, so the DuckDB
        # oracle — which parses the same substring as an integer — is
        # untouched).
        hex4 = F.expr(
            f"substring(__hx, 1 + 4 * CAST(trial % {_TRIALS_PER_HASH} AS INT), 4)"
        )
        cnt = F.lit(len(_POISSON1_CDF_16) - 1)
        for k in range(len(_POISSON1_CDF_16) - 2, -1, -1):
            cnt = F.when(
                hex4 < F.lit(f"{_POISSON1_CDF_16[k]:04x}"), F.lit(k)
            ).otherwise(cnt)
        return (
            blocked.withColumn("__reps", cnt)
            .where(F.col("__reps") > 0)
            .withColumn("__rep", F.explode(F.sequence(F.lit(1), F.col("__reps"))))
            .drop("__blk", "__hx", "__reps", "__rep")
        )
    u = F.rand(seed)
    cnt = F.lit(len(_POISSON1_CDF) - 1)
    for k in range(len(_POISSON1_CDF) - 2, -1, -1):
        cnt = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(cnt)
    return (
        df.withColumn("trial", F.explode(F.sequence(F.lit(0), F.lit(num_trials - 1))))
        .withColumn("__reps", cnt)
        .where(F.col("__reps") > 0)
        .withColumn("__rep", F.explode(F.sequence(F.lit(1), F.col("__reps"))))
        .drop("__reps", "__rep")
    )


def resample_returns_poisson(
    df: DataFrame,
    aggs: Dict[str, Column],
    num_trials: int = 100,
    seed: int = 0,
    key_col: Optional[str] = None,
) -> DataFrame:
    """Scalable bootstrap: one distributed pass computing every trial's
    aggregate statistics at once.

    ``aggs`` maps output column name -> aggregate Column (evaluated per
    trial). Example::

        resample_returns_poisson(df, {"mean": F.avg("returns")}, 1000)

    Pass ``key_col`` (a unique id column) to draw replicate counts from the
    portable hash instead of ``F.rand`` — deterministic across engines and
    partitionings (see :func:`bootstrap_replicate`).
    """
    replicated = bootstrap_replicate(
        df, num_trials=num_trials, seed=seed, key_col=key_col
    )
    return replicated.groupBy("trial").agg(
        *[c.alias(name) for name, c in aggs.items()]
    )


@register(kind="df")
def resample_returns_hash(
    df: DataFrame,
    aggs: Dict[str, Column],
    key_col: str,
    num_trials: int = 100,
    seed: int = 0,
) -> DataFrame:
    """Exact n-of-n bootstrap with engine-portable deterministic draws.

    Reference semantics (each trial samples exactly n rows with replacement,
    /root/reference/ffn_polars/df/core.py:27-28) but with every draw derived
    from ``md5(trial:j:seed)`` instead of an RNG, so any engine — including
    the DuckDB oracle — replays the identical sample.

    Plan: rows get a dense 0..n-1 index (``row_number`` over ``key_col``);
    the draw table is src x trials (j is the source row's own index, giving
    exactly n draws per trial with no ``range(n)`` literal); each draw maps
    to index ``md5_60(trial:j:seed) % n`` and joins back to the indexed rows;
    one groupBy computes every trial's aggregates.

    Scale note: the global ``row_number`` is a single-partition window — this
    is the *moderate-scale* exact variant (same niche as the reference's
    driver loop).  At 100 TB use :func:`resample_returns_poisson` with
    ``key_col``, which is index-free and fully distributed.
    """
    spark = df.sparkSession
    n = df.count()
    if n == 0:
        raise ValueError("cannot bootstrap an empty DataFrame")
    indexed = df.withColumn(
        "__idx", F.row_number().over(Window.orderBy(key_col)) - 1
    )
    trials = F.broadcast(
        spark.range(num_trials).select(F.col("id").alias("trial"))
    )
    draw_idx = F.pmod(
        _md5_60(
            F.concat_ws(
                ":",
                F.col("trial").cast("string"),
                F.col("__idx").cast("string"),
                F.lit(str(seed)),
            )
        ),
        F.lit(n),
    )
    draws = (
        indexed.select("__idx")
        # the index assignment upstream is a single-partition window — spread
        # before the per-draw hash so it parallelizes (same rationale as the
        # repartition in bootstrap_replicate)
        .repartition(_default_block_count(spark))
        .crossJoin(trials)
        .select("trial", draw_idx.alias("__idx"))
    )
    sampled = draws.join(indexed, "__idx")
    return sampled.groupBy("trial").agg(
        *[c.alias(name) for name, c in aggs.items()]
    )


@register(kind="df")
def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    by: Optional[list] = None,
    num_trials: int = 100,
    alpha: float = 0.1,
    key_col: Optional[str] = None,
    seed: int = 0,
) -> DataFrame:
    """Percentile bootstrap confidence interval for a group mean: replicate
    rows Poisson(1) per trial (``bootstrap_replicate``'s single-pass
    distributed bootstrap), take each trial's mean, and report the
    ``alpha/2`` / ``1 − alpha/2`` percentiles of the trial-mean
    distribution around the point estimate — the distribution-free error
    bar for ANY pipeline metric (corpus quality score, dedup rate, mean
    return) at 100 TB, where a closed-form normal CI is wrong whenever
    the metric is skewed.

    Cost: one explode (pipelined, trials × rows), one (keys, trial) hash
    aggregate, one keys-sized exact-percentile aggregate over
    ``num_trials`` values per group. With ``key_col`` set the draws are
    the engine-portable md5 blocks, so an external engine replays the CI
    bit-for-bit. Returns ``(keys, mean, ci_lo, ci_hi, n_trials)``.
    """
    keys = list(by or [])
    rep = bootstrap_replicate(
        df.select(*(keys + [value_col] + ([key_col] if key_col and key_col not in keys + [value_col] else []))),
        num_trials=num_trials,
        seed=seed,
        key_col=key_col,
    )
    trial_means = rep.groupBy(*(keys + ["trial"])).agg(
        F.avg(F.col(value_col).cast("double")).alias("__m")
    )
    lo_q, hi_q = alpha / 2.0, 1.0 - alpha / 2.0
    g1 = trial_means.groupBy(*keys) if keys else trial_means.groupBy()
    cis = g1.agg(
        F.percentile(F.col("__m"), F.lit(lo_q)).alias("ci_lo"),
        F.percentile(F.col("__m"), F.lit(hi_q)).alias("ci_hi"),
        F.count(F.lit(1)).alias("n_trials"),
    )
    g0 = df.groupBy(*keys) if keys else df.groupBy()
    point = g0.agg(F.avg(F.col(value_col).cast("double")).alias("mean"))
    joined = (
        point.join(F.broadcast(cis), on=keys) if keys else point.crossJoin(F.broadcast(cis))
    )
    return joined.select(*keys, "mean", "ci_lo", "ci_hi", "n_trials")
