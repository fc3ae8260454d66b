"""Model-evaluation operators: distributed AUC, calibration, rank IC, and
digit-law conformance.

Beyond the reference's surface (/root/reference/ffn_polars ships no
evaluation layer): once a pipeline trains quality/filter classifiers on the
corpus (see operators/text.py, operators/pipeline.py), these are the
metrics it computes to trust them — and each one is a textbook case of "a
scalar everyone computes single-node that distributes cleanly if you pick
the right formula".

Design notes (100 TB):

* ``auc_by_group`` uses the Mann–Whitney rank-sum identity
  ``AUC = (Σ ranks⁺ − n⁺(n⁺+1)/2) / (n⁺ n⁻)`` instead of pairwise
  comparison: one ordered window for midranks + one hash aggregate —
  O(n log n) by sort, never the O(n²) pair join. Ties get the standard
  midrank correction (rank + (tie_count − 1)/2), so the result equals the
  tie-adjusted trapezoidal AUC exactly.
* ``calibration_bins`` bins on an equal-width grid between the group's own
  min/max — the 1-row-per-group stats frame broadcasts back, the scores
  table never shuffles for the binning itself (only the final per-bin
  aggregate shuffles, output cardinality = groups × bins).
* ``spearman_corr`` = Pearson on midranks: two window passes for the rank
  columns, then a single ``corr`` aggregate — no driver-side sort.
* ``benford_digits`` is a pure projection + two hash aggregates; output
  cardinality is groups × 9.

All rank/count arithmetic is exact integer-and-half arithmetic in doubles
(< 2^53), so results are bit-identical across engines; only the final
divisions carry float rounding.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ffn_polars_spark.core import safe_div
from ffn_polars_spark.registry import register


def _keys(by: Union[str, Sequence[str], None]) -> list:
    return [by] if isinstance(by, str) else list(by or [])


def _midrank(keys: list, order_col: str) -> "F.Column":
    """Tie-adjusted (fractional) rank of ``order_col`` within ``keys``:
    ``rank() + (count(ties) - 1) / 2`` — the standard midrank, exact in
    doubles for any realistic partition size."""
    w_rank = Window.partitionBy(*keys).orderBy(order_col)
    w_tie = Window.partitionBy(*(keys + [order_col]))
    return (
        F.rank().over(w_rank).cast("double")
        + (F.count(F.lit(1)).over(w_tie).cast("double") - F.lit(1.0)) / F.lit(2.0)
    )


@register(namespace="eod", kind="df", context="dataframe", alias="auc_by_group")
def auc_by_group(
    df: DataFrame,
    score_col: str,
    label_col: str,
    by: Union[str, Sequence[str], None] = None,
) -> DataFrame:
    """ROC AUC of ``score_col`` against boolean ``label_col`` per group,
    via the Mann–Whitney rank-sum identity (one window + one aggregate,
    never the O(n²) pair comparison). Ties in the score get midranks, so
    this equals the tie-adjusted trapezoidal AUC. NULL when a group has no
    positives or no negatives. Returns ``(keys, auc, n_pos, n_neg)``."""
    keys = _keys(by)
    pos = F.col(label_col).cast("boolean")
    ranked = df.select(
        *keys, score_col, pos.alias("__pos"),
        _midrank(keys, score_col).alias("__r"),
    )
    g = ranked.groupBy(*keys) if keys else ranked.groupBy()
    agg = g.agg(
        F.sum(F.when(F.col("__pos"), F.col("__r"))).alias("__sum_r_pos"),
        F.count(F.when(F.col("__pos"), 1)).cast("double").alias("__n1"),
        F.count(F.when(~F.col("__pos"), 1)).cast("double").alias("__n0"),
    )
    n1, n0 = F.col("__n1"), F.col("__n0")
    auc = F.when(
        (n1 > 0) & (n0 > 0),
        (F.col("__sum_r_pos") - n1 * (n1 + F.lit(1.0)) / F.lit(2.0)) / (n1 * n0),
    )
    return agg.select(
        *keys,
        auc.alias("auc"),
        n1.cast("long").alias("n_pos"),
        n0.cast("long").alias("n_neg"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="calibration_bins")
def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    by: Union[str, Sequence[str], None] = None,
    bins: int = 10,
) -> DataFrame:
    """Reliability-diagram data: equal-width bins over each group's own
    score range, with per-bin count, mean score, and positive rate — the
    frame a calibration plot (or an ECE computation) consumes directly.

    The per-group (min, max) frame is group-cardinality-sized and
    broadcast back; the scores table is scanned once and shuffles only for
    the final groups × bins aggregate. A zero-width score range puts
    everything in bin 0. Returns ``(keys, bin, n, mean_score, pos_rate)``."""
    keys = _keys(by)
    s = F.col(score_col).cast("double")
    g0 = df.groupBy(*keys) if keys else df.groupBy()
    stats = g0.agg(F.min(s).alias("__lo"), F.max(s).alias("__hi"))
    joined = df.join(F.broadcast(stats), on=keys) if keys else df.crossJoin(
        F.broadcast(stats)
    )
    width = F.col("__hi") - F.col("__lo")
    bin_ = F.when(width > 0, F.least(
        F.floor((s - F.col("__lo")) / width * F.lit(float(bins))),
        F.lit(bins - 1),
    )).otherwise(F.lit(0)).cast("int")
    pre = joined.select(
        *keys, bin_.alias("bin"), s.alias("__s"),
        F.col(label_col).cast("boolean").cast("double").alias("__y"),
    )
    g1 = pre.groupBy(*(keys + ["bin"]))
    return g1.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("__s").alias("mean_score"),
        F.avg("__y").alias("pos_rate"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="spearman_corr")
def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: Union[str, Sequence[str], None] = None,
) -> DataFrame:
    """Spearman rank correlation of two columns per group — Pearson on
    midranks, the standard tie-adjusted definition. The workhorse of
    signal evaluation (information coefficient: rank of a signal vs rank
    of the forward return) and of monotone-dependence checks where Pearson
    is fooled by nonlinearity. Rows where either side is NULL are dropped
    (ranks must cover a common sample). Two window passes + one moment
    aggregate. NULL on a constant side (all-tied midranks have zero
    variance — computed from guarded moments rather than ``F.corr``,
    whose internal division throws an ANSI DIVIDE_BY_ZERO outright on
    the degenerate group; r13 corr-audit find). Returns
    ``(keys, spearman, n)``."""
    keys = _keys(by)
    both = df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    ranked = both.select(
        *keys,
        _midrank(keys, x_col).alias("__rx"),
        _midrank(keys, y_col).alias("__ry"),
    )
    g = ranked.groupBy(*keys) if keys else ranked.groupBy()
    den = F.stddev_samp("__rx") * F.stddev_samp("__ry")
    return g.agg(
        F.when(den > 0, F.covar_samp("__rx", "__ry") / den).alias("spearman"),
        F.count(F.lit(1)).alias("n"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="benford_digits")
def benford_digits(
    df: DataFrame,
    value_col: str,
    by: Union[str, Sequence[str], None] = None,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law per group —
    the classic anomaly/fabrication screen for naturally-scaled positive
    quantities (amounts, populations, trade sizes). Non-positive and NULL
    values are excluded. Emits one row per (group, digit) with the
    observed frequency, the Benford expectation ``log10(1 + 1/d)``, and
    the chi-square contribution ``n_total (obs − exp)² / exp`` (sum them
    per group for the test statistic). Projection + two hash aggregates;
    output cardinality groups × 9."""
    keys = _keys(by)
    x = F.col(value_col).cast("double")
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))).cast("int")
    pos = df.where(x > 0).select(*keys, digit.alias("digit"))
    per_digit = pos.groupBy(*(keys + ["digit"])).agg(F.count(F.lit(1)).alias("n"))
    # group totals via a window over the keys x 9-digit frame — the old
    # aggregate+join branch re-ran the data-sized digit aggregate (r11
    # plan audit's derived-branch class)
    w_tot = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    j = per_digit.withColumn("__total", F.sum("n").over(w_tot))
    obs = F.col("n").cast("double") / F.col("__total").cast("double")
    exp = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    chi2 = F.col("__total").cast("double") * F.pow(obs - exp, F.lit(2.0)) / exp
    return j.select(
        *keys,
        "digit",
        "n",
        obs.alias("observed_freq"),
        exp.alias("expected_freq"),
        chi2.alias("chi2_term"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="expected_calibration_error")
def expected_calibration_error(
    df: DataFrame,
    score_col: str,
    label_col: str,
    by: Union[str, Sequence[str], None] = None,
    bins: int = 10,
) -> DataFrame:
    """Expected Calibration Error per group: the n-weighted mean of
    ``|pos_rate − mean_score|`` over [[calibration_bins]]'s bins — the
    one-number summary of a reliability diagram (0 = perfectly
    calibrated). Also emits the max-bin gap (MCE, the worst-case
    variant). Same cost as calibration_bins plus one groups-sized
    aggregate. Returns ``(keys, ece, mce, n)``."""
    keys = _keys(by)
    cb = calibration_bins(df, score_col, label_col, by=keys or None, bins=bins)
    gap = F.abs(F.col("pos_rate") - F.col("mean_score"))
    nw = F.col("n").cast("double")
    g = cb.groupBy(*keys) if keys else cb.groupBy()
    return g.agg(
        (F.sum(gap * nw) / F.sum(nw)).alias("ece"),
        F.max(gap).alias("mce"),
        F.sum("n").alias("n"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="ndcg_at_k")
def ndcg_at_k(
    df: DataFrame,
    query_col: str,
    score_col: str,
    relevance_col: str,
    k: int = 10,
    tie_col: Optional[str] = None,
) -> DataFrame:
    """nDCG@k per query: linear-gain DCG of the system's score-descending
    ranking over the ideal (relevance-descending) ranking —
    ``Σ relᵢ / log2(i + 1)`` truncated at ``k``, ratioed. The ranking
    metric for retrieval stacks like [[keyword_search]] once graded
    relevance exists. Ties are broken by ``tie_col`` (required for
    engine-determinism when scores collide; defaults to the relevance
    column then query — supply a unique id in production).

    Two ordered windows over the same query partitioning (the second sort
    reuses the first's exchange) + one hash aggregate; rows beyond rank
    ``k`` in both orderings are filtered before the aggregate, so the
    shuffle is queries × 2k. NULL nDCG for queries with zero ideal DCG
    (no relevant items). Returns ``(query, ndcg, n_items)``."""
    tie = [F.col(tie_col).asc()] if tie_col else []
    rel = F.col(relevance_col).cast("double")
    w_sys = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), *tie
    )
    w_ideal = Window.partitionBy(query_col).orderBy(rel.desc(), *tie)
    ranked = df.select(
        query_col,
        rel.alias("__rel"),
        F.row_number().over(w_sys).alias("__rs"),
        F.row_number().over(w_ideal).alias("__ri"),
    ).where((F.col("__rs") <= k) | (F.col("__ri") <= k))
    disc_sys = F.when(
        F.col("__rs") <= k, F.col("__rel") / F.log2(F.col("__rs") + F.lit(1.0))
    )
    disc_ideal = F.when(
        F.col("__ri") <= k, F.col("__rel") / F.log2(F.col("__ri") + F.lit(1.0))
    )
    agg = ranked.groupBy(query_col).agg(
        F.sum(disc_sys).alias("__dcg"),
        F.sum(disc_ideal).alias("__idcg"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return agg.select(
        query_col,
        F.when(F.col("__idcg") > 0, F.col("__dcg") / F.col("__idcg")).alias(
            "ndcg"
        ),
        "n_items",
    )


@register(namespace="eod", kind="df", context="dataframe", alias="mrr_at_k")
def mrr_at_k(
    df: DataFrame,
    query_col: str,
    score_col: str,
    relevance_col: str,
    k: int = 10,
    tie_col: Optional[str] = None,
) -> DataFrame:
    """Reciprocal rank of the first relevant item (relevance > 0) in each
    query's score-descending top-k — average the ``rr`` column for MRR@k.
    0 when no relevant item appears in the top k. One ordered window +
    one min-aggregate. Returns ``(query, rr, first_rel_rank)`` with
    ``first_rel_rank`` NULL when nothing relevant ranked."""
    tie = [F.col(tie_col).asc()] if tie_col else []
    w_sys = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), *tie
    )
    ranked = df.select(
        query_col,
        F.col(relevance_col).cast("double").alias("__rel"),
        F.row_number().over(w_sys).alias("__rs"),
    ).where(F.col("__rs") <= k)
    agg = ranked.groupBy(query_col).agg(
        F.min(F.when(F.col("__rel") > 0, F.col("__rs"))).alias("first_rel_rank")
    )
    rr = F.when(
        F.col("first_rel_rank").isNotNull(),
        F.lit(1.0) / F.col("first_rel_rank").cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select(query_col, rr.alias("rr"), "first_rel_rank")


@register(namespace="eod", kind="df", context="dataframe", alias="pr_at_k")
def pr_at_k(
    df: DataFrame,
    score_col: str,
    label_col: str,
    by: Union[str, Sequence[str], None] = None,
    ks: Sequence[int] = (1, 5, 10, 50, 100),
    tie_col: Optional[str] = None,
) -> DataFrame:
    """Precision/recall at rank cutoffs per group: rank by score
    descending, cumulative true positives at each rank, emit only the
    requested cutoffs — the threshold-sweep summary of a retrieval or
    filter stack (the PR analogue of [[auc_by_group]]'s single number).

    One ordered window (rank + running TP on the same spec, one exchange)
    plus an unordered total-positives window on the group prefix of that
    same partitioning; the rank filter drops everything beyond max(ks)
    before the output projection, so the result is groups × |ks| rows.
    All arithmetic is exact integer ratios. Returns
    ``(keys, k, precision, recall, n_pos)``; recall NULL when the group
    has no positives, cutoffs beyond a group's row count report the
    group's final rank instead (precision over the actual rows seen).
    """
    keys = _keys(by)
    tie = [F.col(tie_col).asc()] if tie_col else []
    pos = F.col(label_col).cast("boolean").cast("double")
    w_rank = Window.partitionBy(*keys).orderBy(F.col(score_col).desc(), *tie)
    w_cum = w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy(*keys)
    ranked = df.select(
        *keys,
        F.row_number().over(w_rank).alias("__rn"),
        F.sum(pos).over(w_cum).alias("__tp"),
        F.sum(pos).over(w_all).alias("__npos"),
        F.count(F.lit(1)).over(w_all).alias("__n"),
    )
    cuts = sorted(set(int(k) for k in ks))
    is_cut = F.col("__rn").isin(cuts) | (
        (F.col("__rn") == F.col("__n")) & (F.col("__n") < F.lit(max(cuts)))
    )
    at = ranked.where(is_cut)
    return at.select(
        *keys,
        F.col("__rn").cast("long").alias("k"),
        (F.col("__tp") / F.col("__rn").cast("double")).alias("precision"),
        F.when(F.col("__npos") > 0, F.col("__tp") / F.col("__npos")).alias(
            "recall"
        ),
        F.col("__npos").cast("long").alias("n_pos"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="ic_decay")
def ic_decay(
    df: DataFrame,
    signal_col: str,
    price_col: str,
    ts_col: str,
    horizons: Sequence[int] = (1, 5, 10),
    by: Union[str, Sequence[str], None] = None,
    tie_col: Optional[str] = None,
) -> DataFrame:
    """Information-coefficient decay profile: Spearman rank correlation of
    a signal against the h-step-forward return, for each horizon h — how
    fast the signal's predictive power dies. The multi-horizon extension
    of [[spearman_corr]]'s single IC, same shape as the variance-ratio
    family's q-profile.

    All forward returns are computed in ONE ordered window pass (one lead
    per horizon on the same window spec — a single exchange + sort), then
    stacked with ``stack()`` (interpreted once per row, horizons-wide) and
    ranked per (group, horizon). Returns ``(keys, horizon, ic, n)``."""
    keys = _keys(by)
    order = [F.col(ts_col).asc()] + ([F.col(tie_col).asc()] if tie_col else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    p = F.col(price_col).cast("double")
    hs = [int(h) for h in horizons]
    leads = df.select(
        *keys,
        F.col(signal_col).alias("__sig"),
        *[(F.lead(p, h).over(w) / p - F.lit(1.0)).alias(f"__f{h}") for h in hs],
    )
    pairs = ", ".join(f"{h}, __f{h}" for h in hs)
    stacked = leads.select(
        *keys,
        "__sig",
        F.expr(f"stack({len(hs)}, {pairs}) AS (horizon, __fwd)"),
    )
    return spearman_corr(
        stacked, "__sig", "__fwd", by=keys + ["horizon"]
    ).withColumnRenamed("spearman", "ic")


@register(namespace="eod", kind="df", context="dataframe", alias="mutual_information")
def mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: Union[str, Sequence[str], None] = None,
    bins: int = 8,
) -> DataFrame:
    """Binned mutual information between two columns per group:
    equal-width bins over each group's own ranges, then
    ``MI = Σᵢⱼ pᵢⱼ ln(pᵢⱼ / pᵢ·p·ⱼ)`` (nats) — the dependence measure
    that sees what [[spearman_corr]] cannot (non-monotone structure:
    a V-shaped relation has Spearman ≈ 0 but high MI). Also emits the
    normalized variant ``MI / min(Hx, Hy)`` ∈ [0, 1].

    One broadcast stats join for the bin edges, one (keys, i, j) joint
    aggregate (output bins² per group) — then EVERYTHING (MI, both
    marginal entropies, n) reads that tiny frame in a single pass:
    marginal counts come from windows over the joint histogram, and the
    per-row entropy contribution is weighted by ``n_ij / n_i`` so it sums
    to ``-p_i ln p_i`` exactly once per bin (the r11 rewrite — the old
    shape re-derived the DATA-SIZED joint aggregate once per marginal
    branch, 3 extra table scans at the plan audit). Rows with NULL in
    either column are excluded. Returns ``(keys, mi, mi_normalized, n)``."""
    keys = _keys(by)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    both = df.where(x.isNotNull() & y.isNotNull())
    g0 = both.groupBy(*keys) if keys else both.groupBy()
    stats = g0.agg(
        F.min(x).alias("__xlo"), F.max(x).alias("__xhi"),
        F.min(y).alias("__ylo"), F.max(y).alias("__yhi"),
    )
    j = both.join(F.broadcast(stats), on=keys) if keys else both.crossJoin(
        F.broadcast(stats)
    )

    def bin_(c, lo, hi):
        w = F.col(hi) - F.col(lo)
        return F.when(
            w > 0,
            F.least(
                F.floor((c - F.col(lo)) / w * F.lit(float(bins))),
                F.lit(bins - 1),
            ),
        ).otherwise(F.lit(0)).cast("int")

    joint = j.select(
        *keys,
        bin_(x, "__xlo", "__xhi").alias("__i"),
        bin_(y, "__ylo", "__yhi").alias("__j"),
    ).groupBy(*(keys + ["__i", "__j"])).agg(F.count(F.lit(1)).alias("__nij"))
    from pyspark.sql.window import Window

    w_all = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    w_i = Window.partitionBy(*(keys + ["__i"])) if keys else Window.partitionBy("__i")
    w_j = Window.partitionBy(*(keys + ["__j"])) if keys else Window.partitionBy("__j")
    nn = F.sum("__nij").over(w_all).cast("double")
    ni = F.sum("__nij").over(w_i).cast("double")
    nj = F.sum("__nij").over(w_j).cast("double")
    nij = F.col("__nij").cast("double")
    pij = nij / nn
    pi, pj = ni / nn, nj / nn
    # the (nij/ni) weight distributes bin i's entropy term across its
    # joint rows so the group sum is Σᵢ -pᵢ ln pᵢ exactly (Σⱼ nij = ni);
    # same for j — no marginal re-aggregation, no second table scan
    terms = joint.select(
        *keys,
        (pij * F.log(pij * nn * nn / (ni * nj))).alias("__t"),
        (-(pi) * F.log(pi) * (nij / ni)).alias("__thx"),
        (-(pj) * F.log(pj) * (nij / nj)).alias("__thy"),
        nn.alias("__nn"),
    )
    mi_g = terms.groupBy(*keys) if keys else terms.groupBy()
    out = mi_g.agg(
        F.sum("__t").alias("mi"),
        F.sum("__thx").alias("__hx"),
        F.sum("__thy").alias("__hy"),
        F.max("__nn").cast("long").alias("n"),
    )
    hmin = F.least(F.col("__hx"), F.col("__hy"))
    return out.select(
        *keys,
        "mi",
        F.when(hmin > 0, F.col("mi") / hmin).alias("mi_normalized"),
        "n",
    )


@register(namespace="eod", kind="df", context="dataframe", alias="paired_ttest")
def paired_ttest(
    df: DataFrame,
    a_col: str,
    b_col: str,
    by: Union[str, Sequence[str], None] = None,
) -> DataFrame:
    """Paired t-test between two aligned metric columns per group
    (model A vs model B on the same queries, strategy vs benchmark on
    the same days): ``t = mean(d) / (sd(d)/√n)`` over the per-row
    differences — the significance companion to the point metrics
    ([[auc_by_group]], [[ndcg_at_k]]) that says whether the gap is
    real. Rows with NULL on either side are excluded (pairing must
    hold). A pure one-pass aggregate. The t statistic and df are
    emitted; feed them to any t CDF for a p-value (kept out of this
    operator so the whole computation stays engine-replayable).
    Returns ``(keys, mean_diff, t_stat, n)``; t NULL when the
    difference variance is 0 or n < 2."""
    keys = _keys(by)
    a = F.col(a_col).cast("double")
    b = F.col(b_col).cast("double")
    ok = a.isNotNull() & b.isNotNull()
    d = F.when(ok, a - b)
    g = df.groupBy(*keys) if keys else df.groupBy()
    agg = g.agg(
        F.avg(d).alias("mean_diff"),
        F.stddev_samp(d).alias("__sd"),
        F.count(d).alias("n"),
    )
    nn = F.col("n").cast("double")
    t = F.when(
        (F.col("__sd") > 0) & (F.col("n") >= 2),
        F.col("mean_diff") / (F.col("__sd") / F.sqrt(nn)),
    )
    return agg.select(*keys, "mean_diff", t.alias("t_stat"), "n")


@register(namespace="eod", kind="df", context="dataframe", alias="information_value")
def information_value(
    df: DataFrame,
    score_col: str,
    label_col: str,
    by: Union[str, Sequence[str], None] = None,
    bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Weight-of-Evidence / Information-Value feature screen: equal-width
    bins over each group's score range, per-bin
    ``WoE = ln(share_of_positives / share_of_negatives)`` and
    ``iv_term = (p_pos − p_neg)·WoE`` — sum the terms for the feature's
    IV (credit-scoring rule of thumb: < 0.02 useless, > 0.3 strong).
    The binned, per-feature companion to [[auc_by_group]]; shares are
    clamped at ``eps`` (the standard empty-bin convention, as in the
    PSI family).

    Same broadcast-stats + single-aggregate shape as
    [[calibration_bins]]; per-group totals ride on a window over the
    bins-sized frame. Returns ``(keys, bin, n_pos, n_neg, woe,
    iv_term)``."""
    keys = _keys(by)
    cb = calibration_bins(df, score_col, label_col, by=keys or None, bins=bins)
    n_pos = (F.col("pos_rate") * F.col("n").cast("double"))
    staged = cb.select(
        *keys, "bin",
        n_pos.alias("__np"),
        (F.col("n").cast("double") - n_pos).alias("__nn"),
    )
    w_all = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    tp = F.sum("__np").over(w_all)
    tn = F.sum("__nn").over(w_all)
    # A group with zero total positives (or negatives) has an undefined
    # share; safe_div yields NULL there and F.greatest skips NULLs, so the
    # share degrades to the same eps clamp as an empty bin (no ANSI throw).
    p_pos = F.greatest(safe_div(F.col("__np"), tp), F.lit(float(eps)))
    p_neg = F.greatest(safe_div(F.col("__nn"), tn), F.lit(float(eps)))
    woe = F.log(p_pos / p_neg)
    return staged.select(
        *keys, "bin",
        F.round("__np", 0).cast("long").alias("n_pos"),
        F.round("__nn", 0).cast("long").alias("n_neg"),
        woe.alias("woe"),
        ((p_pos - p_neg) * woe).alias("iv_term"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="ols_residual_diagnostics")
def ols_residual_diagnostics(
    df: DataFrame,
    y_col: str,
    x_col: str,
    ts_col: str,
    by: Union[str, Sequence[str], None] = None,
) -> DataFrame:
    """Single-factor OLS fit + residual diagnostics per group: beta/alpha
    (the [[jensen_alpha]] moments), R², and the Durbin–Watson statistic
    ``Σ(eₜ − eₜ₋₁)² / Σe²`` on the time-ordered residuals (≈2 = no
    serial correlation, →0 positive, →4 negative) — the "is this
    regression lying to you" panel, since autocorrelated residuals
    invalidate the usual standard errors.

    Two passes sharing one exchange: a per-group moment aggregate
    (broadcast back), then the residual lag window + final aggregate on
    the same keys. Returns ``(keys, beta, alpha, r2, durbin_watson,
    n)``."""
    keys = _keys(by)
    y = F.col(y_col).cast("double")
    x = F.col(x_col).cast("double")
    ok = y.isNotNull() & x.isNotNull()
    both = df.where(ok)
    g = both.groupBy(*keys) if keys else both.groupBy()
    fit = g.agg(
        # NULL beta on a constant regressor (ANSI zero-div audit, r13)
        F.when(F.var_pop(x) > 0, F.covar_pop(y, x) / F.var_pop(x)).alias(
            "__beta"
        ),
        F.avg(y).alias("__my"),
        F.avg(x).alias("__mx"),
    ).withColumn("__alpha", F.col("__my") - F.col("__beta") * F.col("__mx"))
    j = (
        both.join(F.broadcast(fit), on=keys)
        if keys
        else both.crossJoin(F.broadcast(fit))
    )
    e = y - (F.col("__alpha") + F.col("__beta") * x)
    w = Window.partitionBy(*keys).orderBy(ts_col)
    staged = j.withColumn("__e", e).withColumn(
        "__de", F.col("__e") - F.lag("__e").over(w)
    )
    g2 = staged.groupBy(*keys) if keys else staged.groupBy()
    agg = g2.agg(
        F.first("__beta").alias("beta"),
        F.first("__alpha").alias("alpha"),
        F.sum(F.col("__e") * F.col("__e")).alias("__sse"),
        F.var_pop(y).alias("__vy"),
        F.sum(F.col("__de") * F.col("__de")).alias("__sde"),
        F.count(F.lit(1)).alias("n"),
    )
    r2 = F.when(
        F.col("__vy") > 0,
        F.lit(1.0) - F.col("__sse") / (F.col("__vy") * F.col("n").cast("double")),
    )
    dw = F.when(F.col("__sse") > 0, F.col("__sde") / F.col("__sse"))
    return agg.select(
        *keys, "beta", "alpha", r2.alias("r2"), dw.alias("durbin_watson"), "n"
    )


@register(namespace="eod", kind="df", context="dataframe", alias="mann_whitney_u")
def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    label_col: str,
    by: Union[str, Sequence[str], None] = None,
) -> DataFrame:
    """Mann–Whitney U rank-sum test per group: is the ``label_col=1``
    sample's value distribution stochastically larger than the 0
    sample's?  The nonparametric, outlier-immune companion to
    [[paired_ttest]] for UNPAIRED comparisons (two cohorts, two
    sources, two variants), sharing [[auc_by_group]]'s identity —
    ``U₁ = ΣR₁ − n₁(n₁+1)/2`` on midranks, so one ordered window + one
    aggregate, never the O(n²) pair comparison.

    ``z`` is the normal approximation with the standard tie
    correction ``σ² = n₁n₂/12 · ((n+1) − Σ(t³−t)/(n(n−1)))`` and no
    continuity correction (documented so any engine reproduces it
    exactly); NULL when either sample is empty or σ = 0 (all values
    tied). All rank/tie arithmetic is exact integers-in-doubles; only
    the final division and √ round. Returns ``(keys, u, z, n_pos,
    n_neg)``.
    """
    keys = _keys(by)
    v = F.col(value_col).cast("double")
    pos = F.col(label_col).cast("int")
    base = df.where(v.isNotNull()).select(*keys, v.alias("__v"), pos.alias("__y"))
    staged = base.withColumn("__r", _midrank(keys, "__v"))
    # tie-size cubes from the tie window itself: midrank already counts
    # ties per (keys, value); aggregate t³−t at one row per tie cluster.
    w_tie = Window.partitionBy(*(keys + ["__v"]))
    t = F.count(F.lit(1)).over(w_tie).cast("double")
    rn = F.row_number().over(w_tie.orderBy(F.lit(1)))
    staged = staged.withColumn(
        "__t3t", F.when(rn == 1, t * t * t - t).otherwise(F.lit(0.0))
    )
    g = staged.groupBy(*keys) if keys else staged.groupBy()
    agg = g.agg(
        F.sum(F.when(F.col("__y") == 1, F.col("__r"))).alias("__r1"),
        F.sum(F.when(F.col("__y") == 1, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("__y") == 1, 0).otherwise(1)).cast("long").alias("n_neg"),
        F.sum("__t3t").alias("__t3t"),
    )
    n1 = F.col("n_pos").cast("double")
    n2 = F.col("n_neg").cast("double")
    nn = n1 + n2
    u = F.col("__r1") - n1 * (n1 + F.lit(1.0)) / F.lit(2.0)
    var = (
        n1 * n2 / F.lit(12.0)
        * ((nn + F.lit(1.0)) - F.col("__t3t") / (nn * (nn - F.lit(1.0))))
    )
    z = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0) & (var > 0),
        (u - n1 * n2 / F.lit(2.0)) / F.sqrt(var),
    )
    u_out = F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0), u)
    return agg.select(*keys, u_out.alias("u"), z.alias("z"), "n_pos", "n_neg")


@register(namespace="eod", kind="df", context="dataframe", alias="rank_portfolio")
def rank_portfolio(
    df: DataFrame,
    period_col: str,
    key_col: str,
    signal_col: str,
    ret_col: str,
    n_quantiles: int = 5,
) -> DataFrame:
    """Cross-sectional rank-portfolio backtest: each period, rank the
    keys by ``signal_col`` into ``n_quantiles`` buckets (``ntile`` —
    the SQL-standard split both engines share), go long the top
    bucket's equal-weighted ``ret_col`` and short the bottom's — the
    classic decile long-short test of whether a signal MONOTONICALLY
    orders future returns, the portfolio-level extension of the
    correlation-style [[spearman_ic]].

    One window (ntile per period, ties broken by ``key_col`` so every
    engine buckets identically) + one aggregate; output cardinality =
    periods. Returns ``(period, long_ret, short_ret, spread, n_long,
    n_short)``; rows with NULL signal or return sit out that period.
    """
    ok = F.col(signal_col).isNotNull() & F.col(ret_col).isNotNull()
    w = Window.partitionBy(period_col).orderBy(signal_col, key_col)
    staged = df.where(ok).withColumn("__q", F.ntile(int(n_quantiles)).over(w))
    top, bot = int(n_quantiles), 1
    r = F.col(ret_col).cast("double")
    agg = staged.groupBy(F.col(period_col).alias("period")).agg(
        F.avg(F.when(F.col("__q") == top, r)).alias("long_ret"),
        F.avg(F.when(F.col("__q") == bot, r)).alias("short_ret"),
        F.sum(F.when(F.col("__q") == top, 1).otherwise(0)).cast("long").alias("n_long"),
        F.sum(F.when(F.col("__q") == bot, 1).otherwise(0)).cast("long").alias("n_short"),
    )
    return agg.select(
        "period", "long_ret", "short_ret",
        (F.col("long_ret") - F.col("short_ret")).alias("spread"),
        "n_long", "n_short",
    )


@register(namespace="eod", kind="df", context="dataframe", alias="chi_square")
def chi_square(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: Union[str, Sequence[str], None] = None,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns per group, via the textbook identity
    ``χ² = n·(Σ O²/(rowΣ·colΣ)) − n`` over the OBSERVED cells — which
    is algebraically equal to ``Σ (O−E)²/E`` over the FULL |X|×|Y|
    grid including observed-zero cells (a zero cell's ``O²/(r·c)``
    term vanishes while its ``E`` contribution is absorbed by the
    ``−n``), so the statistic matches textbook/scipy values with no
    grid-completion join at all. The categorical independence screen
    beside the binned [[mutual_information]].

    One subject-level aggregate to cell cardinality, two KEYED windows
    over the cell-sized frame for the marginals (no unkeyed window, no
    self-join, no pin — the r12 rewrite: the previous shape pinned the
    cells frame unconditionally, but cells are distinct(x)·distinct(y)
    per group, data-dependent, and could approach row count for
    id-like inputs, bypassing the ``pins.pin`` heap gate), then
    one group-level aggregate. Counts are exact longs; only the final
    divisions round (the ``n·Σ − n`` cancellation costs ~1 ulp·n —
    absorbed by any sane rounding of a test statistic, and clamped at 0
    so a near-independent table with large n can never cancel to a
    negative statistic the textbook nonnegative-sum form could not
    produce). Returns
    ``(keys, chi2, dof, n)`` with ``dof = (|X|−1)(|Y|−1)``; NULL chi2
    when dof = 0 (a degenerate single-row/column grid).
    """
    keys = _keys(by)
    cells = df.groupBy(
        *keys, F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
    ).agg(F.count(F.lit(1)).cast("long").alias("__o"))
    wx = Window.partitionBy(*keys, "__x")
    wy = Window.partitionBy(*keys, "__y")
    rx = F.sum("__o").over(wx).cast("double")
    cy = F.sum("__o").over(wy).cast("double")
    o = F.col("__o").cast("double")
    staged = cells.select(
        *keys,
        (o * o / (rx * cy)).alias("__t"),
        "__o", "__x", "__y",
    )
    g = staged.groupBy(*keys) if keys else staged.groupBy()
    agg = g.agg(
        F.sum("__t").alias("__s"),
        F.sum("__o").cast("long").alias("n"),
        F.countDistinct("__x").alias("__nx"),
        F.countDistinct("__y").alias("__ny"),
    )
    dof = (F.col("__nx") - 1) * (F.col("__ny") - 1)
    nn = F.col("n").cast("double")
    return agg.select(
        *keys,
        # clamp at 0: the identity form computes chi2 as a floating-point
        # difference, so a near-independent table with large n can cancel
        # to a tiny NEGATIVE value (e.g. -1e-10) that the textbook
        # sum-of-nonnegative form could never produce and that downstream
        # p-value code may assume is >= 0 (oracle mirrors the clamp)
        F.when(dof > 0, F.greatest(F.lit(0.0), nn * F.col("__s") - nn)).alias(
            "chi2"
        ),
        dof.cast("long").alias("dof"),
        "n",
    )


@register(namespace="eod", kind="df", context="dataframe", alias="cohens_kappa")
def cohens_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
    by: Union[str, Sequence[str], None] = None,
) -> DataFrame:
    """Cohen's kappa inter-rater agreement per group: ``κ = (pₒ−pₑ)/(1−pₑ)``
    with observed agreement ``pₒ = Σ 1[a=b]/n`` and chance agreement
    ``pₑ = Σ_k p_a(k)·p_b(k)`` over the label marginals — the standard
    chance-corrected gate on labeling pipelines (two annotators, a model
    vs a gold set, two heuristic classifiers) before their labels feed
    training data. Complements [[chi_square]] (association) with
    AGREEMENT — raters can be perfectly associated yet never agree.

    One subject-level aggregate per rater to label cardinality, one
    full-outer marginal join (label-sized frames), one row-level agg for
    pₒ — nothing after the first aggregates touches row cardinality.
    Counts are exact longs; κ is NULL when pₑ = 1 (both raters constant
    and identical — agreement is undefined, not perfect). Returns
    ``(keys, kappa, po, pe, n)``.
    """
    keys = _keys(by)
    a = F.col(rater_a)
    b = F.col(rater_b)
    base = df.where(a.isNotNull() & b.isNotNull())
    g0 = base.groupBy(*keys) if keys else base.groupBy()
    totals = g0.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(a == b, 1).otherwise(0)).cast("long").alias("__agree"),
    )
    ca = base.groupBy(*keys, a.alias("__k")).agg(
        F.count(F.lit(1)).cast("long").alias("__na")
    )
    cb = base.groupBy(*keys, b.alias("__k")).agg(
        F.count(F.lit(1)).cast("long").alias("__nb")
    )
    marg = ca.join(cb, keys + ["__k"], "full").fillna(0, subset=["__na", "__nb"])
    gm = marg.groupBy(*keys) if keys else marg.groupBy()
    pe_num = gm.agg(
        F.sum(F.col("__na").cast("double") * F.col("__nb").cast("double")).alias(
            "__pe_num"
        )
    )
    out = totals.join(pe_num, keys) if keys else totals.crossJoin(pe_num)
    nn = F.col("n").cast("double")
    po = F.col("__agree").cast("double") / nn
    pe = F.col("__pe_num") / (nn * nn)
    return out.select(
        *keys,
        F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
        po.alias("po"),
        pe.alias("pe"),
        "n",
    )


@register(namespace="eod", kind="df", context="dataframe", alias="newey_west_tstat")
def newey_west_tstat(
    df: DataFrame,
    value_col: str,
    order_by: Union[str, Sequence[str]] = "ts_ns",
    by: Union[str, Sequence[str], None] = None,
    lags: int = 5,
) -> DataFrame:
    """HAC-robust mean test per group: the Newey–West t-statistic of
    ``mean(value) = 0`` with Bartlett-kernel weights — the
    autocorrelation-aware upgrade of [[paired_ttest]]'s plain standard
    error, and the standard significance gate on strategy returns
    (overlapping-window returns are serially correlated, so the naive
    t overstates significance exactly where it matters).

    ``σ²_NW = γ₀ + 2·Σ_{l=1..L} (1 − l/(L+1))·γ_l`` with
    ``γ_l = Σ_{t>l} uₜu_{t−l} / n`` on demeaned values (the standard
    1/n convention). Two passes sharing structure: a group-mean frame
    (group cardinality) broadcast back, then ONE ordered window
    producing all L lag columns (a single exchange, one WindowExec)
    and one closed-form aggregate. A lag with no valid pairs (n ≤ l)
    contributes γ_l = 0, so short groups still get the naive-variance
    t rather than NULL (hypothesis-found, r13). t is NULL when
    σ² ≤ 0 or n = 0. Returns ``(keys, mean, se_nw, t_nw, n)``.
    """
    keys = _keys(by)
    ocols = [order_by] if isinstance(order_by, str) else list(order_by)
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(*keys, *ocols, v.alias("__v"))
    g0 = base.groupBy(*keys) if keys else base.groupBy()
    means = g0.agg(
        F.avg("__v").alias("__mu"), F.count(F.lit(1)).cast("long").alias("n")
    )
    joined = (
        base.join(F.broadcast(means), keys)
        if keys
        else base.crossJoin(F.broadcast(means))
    )
    w = (
        Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    ).orderBy(*ocols)
    u = F.col("__v") - F.col("__mu")
    L = int(lags)
    staged = joined.select(
        *keys,
        "n",
        "__mu",
        u.alias("__u"),
        *[F.lag(u, l).over(w).alias(f"__u{l}") for l in range(1, L + 1)],
    )
    g1 = staged.groupBy(*keys, "n", "__mu") if keys else staged.groupBy("n", "__mu")
    agg = g1.agg(
        F.sum(F.col("__u") * F.col("__u")).alias("__g0"),
        *[
            F.sum(F.col("__u") * F.col(f"__u{l}")).alias(f"__g{l}")
            for l in range(1, L + 1)
        ],
    )
    nn = F.col("n").cast("double")
    var_nw = F.col("__g0") / nn
    for l in range(1, L + 1):
        # a group with n <= l rows has NO valid lag-l pairs: sum() over the
        # all-NULL lag column is NULL, and without the coalesce it poisoned
        # the whole variance (hypothesis-found, r13) — an empty γ_l is 0
        var_nw = var_nw + F.lit(2.0 * (1.0 - l / (L + 1.0))) * (
            F.coalesce(F.col(f"__g{l}"), F.lit(0.0)) / nn
        )
    se = F.when(var_nw > 0, F.sqrt(var_nw / nn))
    return agg.select(
        *keys,
        F.col("__mu").alias("mean"),
        se.alias("se_nw"),
        (F.col("__mu") / se).alias("t_nw"),
        "n",
    )


@register(namespace="eod", kind="df", context="dataframe", alias="event_study")
def event_study(
    returns: DataFrame,
    events: DataFrame,
    key_col: str,
    seq_col: str,
    ret_col: str,
    window: int = 2,
) -> DataFrame:
    """Event-study cumulative abnormal returns: for each event at
    position ``t₀`` of a key's return series, ``CAR = Σ_{|t−t₀|≤w}
    (rₜ − r̄_key)`` under the constant-mean-return model (the standard
    baseline; r̄ is the key's own full-sample mean) — "did returns
    around these news ticks differ from the key's normal drift?".

    The window alignment is an EXPLODE-side equi-join, not a range
    join: each event fans out to its 2w+1 (key, t₀+offset) coordinates
    (map-side, events are the small side) and equi-joins the return
    frame on (key, t) — one shuffle on a perfectly selective key, no
    between-predicate explosion. The mean frame (key cardinality)
    broadcasts. Series positions (``seq_col``) must be the key's dense
    row index. Returns ``(key, event_seq, car, n_obs)`` — ``n_obs`` <
    2w+1 flags a window clipped at the series edge.
    """
    k = int(window)
    r = F.col(ret_col).cast("double")
    rets = returns.select(
        F.col(key_col).alias("__k"), F.col(seq_col).alias("__t"), r.alias("__r")
    )
    means = rets.groupBy("__k").agg(F.avg("__r").alias("__mu"))
    ev = (
        events.select(F.col(key_col).alias("__k"), F.col(seq_col).alias("__t0"))
        .withColumn("__o", F.explode(F.sequence(F.lit(-k), F.lit(k))))
        .withColumn("__t", F.col("__t0") + F.col("__o"))
        .drop("__o")
    )
    joined = ev.join(rets, ["__k", "__t"]).join(F.broadcast(means), "__k")
    return (
        joined.groupBy(F.col("__k").alias(key_col), F.col("__t0").alias("event_seq"))
        .agg(
            F.sum(F.col("__r") - F.col("__mu")).alias("car"),
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
    )


@register(namespace="eod", kind="df", context="dataframe", alias="p_adjust_bh")
def p_adjust_bh(
    df: DataFrame,
    p_col: str,
    by: Union[str, Sequence[str], None] = None,
) -> DataFrame:
    """Benjamini–Hochberg FDR adjustment of a p-value column (within an
    optional family key): ``p_adj(i) = min_{j ≥ i} p(j)·m/j`` over the
    ascending-p ranking, clipped to 1 — the multiple-testing control
    every fan-out tester in this catalog ([[paired_ttest]],
    [[mann_whitney_u]], [[chi_square]] run once PER GROUP) needs before
    anyone reads its thousands of per-group p-values.

    Pure window algebra, no iteration: one ordered window gives the
    rank, the same window REVERSED gives the tail running min — two
    WindowExecs sharing one exchange. Ties in p are ranked
    deterministically by p (equal p ⇒ equal p·m/j after the tail min,
    so tie order cannot change the result). NULL p-values pass through
    with NULL adjustments and do not count toward ``m``. Returns the
    input columns + ``(p_rank, p_adj)``.
    """
    keys = _keys(by)
    p = F.col(p_col).cast("double")
    w_all = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    w_asc = w_all.orderBy(p)
    ok = df.where(p.isNotNull())
    m = F.count(F.lit(1)).over(w_all)
    rk = F.row_number().over(w_asc)
    staged = ok.withColumn("p_rank", rk).withColumn(
        "__raw", p * m.cast("double") / rk.cast("double")
    )
    tail_min = F.min("__raw").over(
        w_all.orderBy(F.col("p_rank").desc()).rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    adj = staged.withColumn("p_adj", F.least(tail_min, F.lit(1.0))).drop(
        "__raw"
    )
    nulls = df.where(p.isNull()).withColumn(
        "p_rank", F.lit(None).cast("int")
    ).withColumn("p_adj", F.lit(None).cast("double"))
    return adj.unionByName(nulls)


@register(namespace="eod", kind="df", context="dataframe", alias="proportion_ztest")
def proportion_ztest(
    df: DataFrame,
    success_col: str,
    variant_col: str,
    by: Union[str, Sequence[str], None] = None,
) -> DataFrame:
    """Two-sample proportion z-test per group: does the ``variant_col=1``
    arm's success rate differ from the 0 arm's? ``z = (p₁−p₀) /
    √(p̂(1−p̂)(1/n₁+1/n₀))`` with the pooled ``p̂`` — the A/B-test
    workhorse beside [[mann_whitney_u]] (continuous outcomes) and
    [[chi_square]] (multi-category), kept as its own closed form
    because rates are what experiment dashboards actually report.

    One hash aggregate — four exact counts per group — then pure
    scalar algebra; nothing after the aggregate touches row
    cardinality. ``z`` is NULL when either arm is empty or the pooled
    variance is 0 (all successes or all failures). Returns ``(keys,
    rate_1, rate_0, lift, z, n_1, n_0)``.
    """
    keys = _keys(by)
    s = F.col(success_col).cast("int")
    v = F.col(variant_col).cast("int")
    base = df.where(s.isNotNull() & v.isNotNull())
    g = base.groupBy(*keys) if keys else base.groupBy()
    agg = g.agg(
        F.sum(F.when(v == 1, s)).cast("long").alias("__s1"),
        F.sum(F.when(v == 1, 1).otherwise(0)).cast("long").alias("n_1"),
        F.sum(F.when(v == 0, s)).cast("long").alias("__s0"),
        F.sum(F.when(v == 0, 1).otherwise(0)).cast("long").alias("n_0"),
    )
    n1 = F.col("n_1").cast("double")
    n0 = F.col("n_0").cast("double")
    p1 = F.col("__s1").cast("double") / n1
    p0 = F.col("__s0").cast("double") / n0
    pooled = (F.col("__s1") + F.col("__s0")).cast("double") / (n1 + n0)
    var = pooled * (F.lit(1.0) - pooled) * (F.lit(1.0) / n1 + F.lit(1.0) / n0)
    z = F.when((F.col("n_1") > 0) & (F.col("n_0") > 0) & (var > 0),
               (p1 - p0) / F.sqrt(var))
    return agg.select(
        *keys,
        F.when(F.col("n_1") > 0, p1).alias("rate_1"),
        F.when(F.col("n_0") > 0, p0).alias("rate_0"),
        F.when((F.col("n_1") > 0) & (F.col("n_0") > 0), p1 - p0).alias("lift"),
        z.alias("z"),
        "n_1", "n_0",
    )


@register(namespace="eod", kind="df", context="dataframe", alias="forecast_mase")
def forecast_mase(
    df: DataFrame,
    value_col: str,
    order_by: Union[str, Sequence[str]] = "ts_ns",
    by: Union[str, Sequence[str], None] = None,
    season: int = 7,
) -> DataFrame:
    """Seasonal-naive forecast backtest, scored as MASE: forecast
    ``x̂ₜ = x_{t−season}``, scale its MAE by the one-step random-walk
    MAE — ``MASE = mean|xₜ−x_{t−s}| / mean|xₜ−x_{t−1}|`` — the
    scale-free "is there exploitable seasonality?" screen (MASE < 1:
    the weekly/seasonal pattern beats a random walk; ≥ 1: [[
    weekday_returns]]-style structure isn't actionable). The
    forecasting counterpart of [[seasonal_adjust]].

    Both lags come from ONE ordered window (a single exchange, one
    WindowExec), then one closed-form aggregate. The two MAEs are
    averaged over their own valid rows (the seasonal lag loses
    ``season`` rows, the naive lag one — the standard convention,
    stated so any engine replays it). NULL when either MAE has no
    rows or the naive MAE is 0 (a constant series). Returns ``(keys,
    mase, mae_seasonal, mae_naive, n)``.
    """
    keys = _keys(by)
    ocols = [order_by] if isinstance(order_by, str) else list(order_by)
    s = int(season)
    v = F.col(value_col).cast("double")
    w = (
        Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    ).orderBy(*ocols)
    staged = df.select(
        *keys,
        v.alias("__v"),
        F.lag(v, s).over(w).alias("__vs"),
        F.lag(v, 1).over(w).alias("__v1"),
    )
    es = F.abs(F.col("__v") - F.col("__vs"))
    e1 = F.abs(F.col("__v") - F.col("__v1"))
    g = staged.groupBy(*keys) if keys else staged.groupBy()
    agg = g.agg(
        F.avg(es).alias("mae_seasonal"),
        F.avg(e1).alias("mae_naive"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return agg.select(
        *keys,
        F.when(
            F.col("mae_naive") > 0, F.col("mae_seasonal") / F.col("mae_naive")
        ).alias("mase"),
        "mae_seasonal",
        "mae_naive",
        "n",
    )


@register(namespace="eod", kind="df", context="dataframe", alias="simpson_check")
def simpson_check(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_col: str,
) -> DataFrame:
    """Simpson's-paradox screen: the x–y association (population
    covariance) per stratum plus one ``__pooled__`` row for the
    unstratified association — when the pooled sign contradicts the
    strata, the aggregate is confounded by group composition and any
    pooled metric ([[spearman_corr]], a rate comparison, a regression
    slope) is lying. The first thing to run before trusting a
    whole-corpus correlation.

    One hash aggregate per stratum (closed-form moments) + one global
    aggregate — two passes over the input, nothing at row cardinality
    afterwards. Returns ``(stratum, n, covariance, slope)`` with slope
    = cov/var(x) (NULL for a constant x).
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.where(x.isNotNull() & y.isNotNull()).select(
        F.col(group_col).cast("string").alias("__g"), x.alias("__x"),
        y.alias("__y"),
    )

    def agg(frame, label_col):
        vx = F.var_pop("__x")
        return frame.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.covar_pop("__x", "__y").alias("covariance"),
            F.when(vx > 0, F.covar_pop("__x", "__y") / vx).alias("slope"),
        ).select(label_col.alias("stratum"), "n", "covariance", "slope")

    per = agg(base.groupBy("__g"), F.col("__g"))
    pooled = agg(base.groupBy(), F.lit("__pooled__"))
    return per.unionByName(pooled)


@register(namespace="eod", kind="df", context="dataframe", alias="feature_auc_screen")
def feature_auc_screen(
    df: DataFrame,
    label_col: str,
    feature_cols: Sequence[str],
) -> DataFrame:
    """Single-feature discriminative power screen: the rank-sum ROC AUC
    of every candidate feature against a binary label, in ONE pass —
    the cheap first cut of feature selection (|AUC − 0.5| is a
    monotone-association strength that needs no binning, unlike
    [[mutual_information]], and no model fit). Features unpivot
    through one explode over a struct array (one scan regardless of
    feature count) and share [[auc_by_group]]'s midrank machinery with
    ``feature`` as the group key. Returns ``(feature, auc, n_pos,
    n_neg)``.
    """
    arr = F.array(
        *[
            F.struct(
                F.lit(c).alias("f"), F.col(c).cast("double").alias("v")
            )
            for c in feature_cols
        ]
    )
    lab = F.col(label_col).cast("boolean")
    long = df.select(lab.alias("__y"), F.explode(arr).alias("__e")).select(
        F.col("__e.f").alias("feature"), F.col("__e.v").alias("__v"), "__y"
    ).where(F.col("__v").isNotNull() & F.col("__y").isNotNull())
    return auc_by_group(long, "__v", "__y", by="feature")


@register(namespace="eod", kind="df", context="dataframe", alias="ols2_by_group")
def ols2_by_group(
    df: DataFrame,
    y_col: str,
    x1_col: str,
    x2_col: str,
    by: Union[str, Sequence[str], None] = None,
) -> DataFrame:
    """Two-factor OLS per group, closed form: solve the 2×2 normal
    equations from population moments — ``b₁ = (S₂₂S₁y − S₁₂S₂y)/det``,
    ``b₂ = (S₁₁S₂y − S₁₂S₁y)/det``, ``det = S₁₁S₂₂ − S₁₂²`` — the
    multi-factor extension of [[ols_residual_diagnostics]]'s single
    regressor (market + size, signal + control, treatment + covariate)
    without any iterative solver. ``r2 = (b₁S₁y + b₂S₂y)/S_yy``.

    ONE hash aggregate of six moments; nothing touches row cardinality
    afterwards. Coefficients are NULL when the regressors are
    collinear (det ≤ 0 within float) or constant. Returns ``(keys,
    alpha, beta1, beta2, r2, n)``.
    """
    keys = _keys(by)
    y = F.col(y_col).cast("double")
    x1 = F.col(x1_col).cast("double")
    x2 = F.col(x2_col).cast("double")
    base = df.where(y.isNotNull() & x1.isNotNull() & x2.isNotNull()).select(
        *keys, y.alias("__y"), x1.alias("__x1"), x2.alias("__x2")
    )
    g = base.groupBy(*keys) if keys else base.groupBy()
    agg = g.agg(
        F.var_pop("__x1").alias("__s11"),
        F.var_pop("__x2").alias("__s22"),
        F.covar_pop("__x1", "__x2").alias("__s12"),
        F.covar_pop("__x1", "__y").alias("__s1y"),
        F.covar_pop("__x2", "__y").alias("__s2y"),
        F.var_pop("__y").alias("__syy"),
        F.avg("__y").alias("__my"),
        F.avg("__x1").alias("__m1"),
        F.avg("__x2").alias("__m2"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    det = F.col("__s11") * F.col("__s22") - F.col("__s12") * F.col("__s12")
    b1 = (F.col("__s22") * F.col("__s1y") - F.col("__s12") * F.col("__s2y")) / det
    b2 = (F.col("__s11") * F.col("__s2y") - F.col("__s12") * F.col("__s1y")) / det
    ok = det > 0
    b1g = F.when(ok, b1)
    b2g = F.when(ok, b2)
    alpha = F.when(
        ok, F.col("__my") - b1 * F.col("__m1") - b2 * F.col("__m2")
    )
    r2 = F.when(
        ok & (F.col("__syy") > 0),
        (b1 * F.col("__s1y") + b2 * F.col("__s2y")) / F.col("__syy"),
    )
    return agg.select(
        *keys, alpha.alias("alpha"), b1g.alias("beta1"), b2g.alias("beta2"),
        r2.alias("r2"), "n",
    )


@register(namespace="eod", kind="df", context="dataframe", alias="effective_sample_size")
def effective_sample_size(
    df: DataFrame,
    value_col: str,
    order_by: Union[str, Sequence[str]] = "ts_ns",
    by: Union[str, Sequence[str], None] = None,
    lags: int = 5,
) -> DataFrame:
    """Autocorrelation-adjusted effective sample size per group:
    ``n_eff = n / (1 + 2·Σ_{l=1..L} ρ_l)`` (ρ̂_l = γ_l/γ₀, the same
    1/n-convention autocovariances as [[newey_west_tstat]]) — the
    honest denominator for any mean/SE on serially correlated data;
    n_eff ≪ n is the quantitative reading of "these rows aren't
    independent observations". The factor is floored at 1 (negative
    autocorrelation can only help, it never multiplies information).

    One broadcast mean join + ONE ordered window for all L lag columns
    + one closed-form aggregate. Returns ``(keys, n, n_eff,
    autocorr_sum)``.
    """
    keys = _keys(by)
    ocols = [order_by] if isinstance(order_by, str) else list(order_by)
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(*keys, *ocols, v.alias("__v"))
    g0 = base.groupBy(*keys) if keys else base.groupBy()
    means = g0.agg(F.avg("__v").alias("__mu"))
    joined = (
        base.join(F.broadcast(means), keys)
        if keys
        else base.crossJoin(F.broadcast(means))
    )
    w = (
        Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    ).orderBy(*ocols)
    u = F.col("__v") - F.col("__mu")
    L = int(lags)
    staged = joined.select(
        *keys,
        u.alias("__u"),
        *[F.lag(u, l).over(w).alias(f"__u{l}") for l in range(1, L + 1)],
    )
    g1 = staged.groupBy(*keys) if keys else staged.groupBy()
    agg = g1.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("__u") * F.col("__u")).alias("__g0"),
        *[
            F.sum(F.col("__u") * F.col(f"__u{l}")).alias(f"__g{l}")
            for l in range(1, L + 1)
        ],
    )
    rho_sum = None
    for l in range(1, L + 1):
        # n <= l rows -> no valid lag-l pairs -> sum() over the all-NULL
        # column is NULL and would poison the factor (same class as the
        # r13 newey_west_tstat fix): an empty autocovariance is 0
        term = F.coalesce(F.col(f"__g{l}"), F.lit(0.0)) / F.col("__g0")
        rho_sum = term if rho_sum is None else rho_sum + term
    factor = F.greatest(F.lit(1.0), F.lit(1.0) + F.lit(2.0) * rho_sum)
    n_eff = F.when(
        F.col("__g0") > 0, F.col("n").cast("double") / factor
    ).otherwise(F.col("n").cast("double"))
    return agg.select(
        *keys, "n", n_eff.alias("n_eff"),
        F.when(F.col("__g0") > 0, rho_sum).alias("autocorr_sum"),
    )


@register(namespace="eod", kind="df", context="dataframe", alias="rate_ratio_test")
def rate_ratio_test(
    df: DataFrame,
    variant_col: str,
    by: Union[str, Sequence[str], None] = None,
    exposure_col: Optional[str] = None,
) -> DataFrame:
    """Poisson rate-ratio test per group: are events arriving faster in
    the ``variant_col=1`` arm? ``z = ln(r₁/r₀) / √(1/c₁ + 1/c₀)`` with
    rates per unit exposure (``exposure_col``; without one each arm
    gets UNIT exposure — equal observation windows — so the rate IS
    the count and the ratio is c₁/c₀) — the COUNT-metric
    A/B test beside [[proportion_ztest]]'s rate-of-rows test: sessions
    per user, errors per host, trades per minute.

    One hash aggregate of two counts and two exposures; z is NULL when
    either count is 0 (the log-ratio variance is undefined — exact
    Poisson tests take over at small counts). Returns ``(keys, rate_1,
    rate_0, rate_ratio, z, n_1, n_0)``.
    """
    keys = _keys(by)
    varc = F.col(variant_col).cast("int")
    expo = (
        F.col(exposure_col).cast("double") if exposure_col else F.lit(0.0)
    )
    base = df.where(varc.isNotNull()).select(
        *keys, varc.alias("__v"), expo.alias("__e")
    )
    g = base.groupBy(*keys) if keys else base.groupBy()
    agg = g.agg(
        F.sum(F.when(F.col("__v") == 1, 1).otherwise(0)).cast("long").alias("n_1"),
        F.sum(F.when(F.col("__v") == 0, 1).otherwise(0)).cast("long").alias("n_0"),
        (
            F.sum(F.when(F.col("__v") == 1, F.col("__e")))
            if exposure_col
            else F.lit(1.0)
        ).alias("__e1"),
        (
            F.sum(F.when(F.col("__v") == 0, F.col("__e")))
            if exposure_col
            else F.lit(1.0)
        ).alias("__e0"),
    )
    c1 = F.col("n_1").cast("double")
    c0 = F.col("n_0").cast("double")
    r1 = F.when(F.col("__e1") > 0, c1 / F.col("__e1"))
    r0 = F.when(F.col("__e0") > 0, c0 / F.col("__e0"))
    ratio = F.when(r0 > 0, r1 / r0)
    z = F.when(
        (F.col("n_1") > 0) & (F.col("n_0") > 0) & (ratio > 0),
        F.log(ratio) / F.sqrt(F.lit(1.0) / c1 + F.lit(1.0) / c0),
    )
    return agg.select(
        *keys, r1.alias("rate_1"), r0.alias("rate_0"),
        ratio.alias("rate_ratio"), z.alias("z"), "n_1", "n_0",
    )


@register(namespace="eod", kind="df", context="dataframe", alias="tail_dependence")
def tail_dependence(
    df: DataFrame,
    x_col: str,
    y_col: str,
    by: Union[str, Sequence[str], None] = None,
    q: float = 0.95,
) -> DataFrame:
    """Upper-tail dependence between two series per group:
    ``λ_U(q) = P(Y > Q_y(q) | X > Q_x(q))`` against the independence
    benchmark ``1 − q`` — "when X blows out, does Y blow out WITH it?",
    the co-crash measure a whole-sample [[spearman_corr]] hides (two
    series can be mildly correlated on average and perfectly coupled
    in the tail, which is what kills a hedge). ``λ/(1−q) ≫ 1`` flags
    tail coupling.

    Per-group exact quantiles (group-cardinality frame, broadcast
    back) + one counting aggregate — two passes, closed form. Returns
    ``(keys, lambda_u, benchmark, lift, n_tail_x, n)``.
    """
    keys = _keys(by)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.where(x.isNotNull() & y.isNotNull()).select(
        *keys, x.alias("__x"), y.alias("__y")
    )
    g0 = base.groupBy(*keys) if keys else base.groupBy()
    cuts = g0.agg(
        F.percentile("__x", F.lit(float(q))).alias("__qx"),
        F.percentile("__y", F.lit(float(q))).alias("__qy"),
    )
    joined = (
        base.join(F.broadcast(cuts), keys)
        if keys
        else base.crossJoin(F.broadcast(cuts))
    )
    in_x = F.col("__x") > F.col("__qx")
    in_both = in_x & (F.col("__y") > F.col("__qy"))
    g1 = joined.groupBy(*keys) if keys else joined.groupBy()
    agg = g1.agg(
        F.sum(F.when(in_x, 1).otherwise(0)).cast("long").alias("n_tail_x"),
        F.sum(F.when(in_both, 1).otherwise(0)).cast("long").alias("__nb"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    lam = F.when(
        F.col("n_tail_x") > 0,
        F.col("__nb").cast("double") / F.col("n_tail_x").cast("double"),
    )
    bench = F.lit(1.0 - float(q))
    return agg.select(
        *keys, lam.alias("lambda_u"), bench.alias("benchmark"),
        (lam / bench).alias("lift"), "n_tail_x", "n",
    )
