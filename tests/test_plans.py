"""Physical-plan regression gates: the properties that keep the engine fast
at scale, asserted on the catalog's own queries at sf0.001.

Every gate reads the plan tree through ``plans.plan_nodes``: node classes,
ancestor/descendant relations and a node's own expressions — never explain
text.

``read_table`` returns tables of at most ``SINGLE_PARTITION_MAX_ROWS`` rows
as one partition, which plans no exchange at all. Every sf0.001 table is
that small, so the module sets the threshold to 0: the gates pin the
distributed shape the same queries plan on inputs above it. (The tiny
shape has its own test in tests/test_sources.py.)"""

import pytest

from ffn_polars_spark.plans import (
    as_list,
    count_broadcast_joins,
    count_exchanges,
    evaluating,
    has_join,
    partition_filters,
    plan_nodes,
    pushed_filters,
    read_schemas,
)
from ffn_polars_spark.queries import QUERY_FNS

from tests.conftest import TESTDATA

SF = f"{TESTDATA}/sf0.001"

pytestmark = pytest.mark.skipif(
    not __import__("os").path.exists(SF), reason="testdata not present"
)


@pytest.fixture(autouse=True)
def distributed_reads(monkeypatch):
    """Every table read as it is above the single-partition threshold."""
    from ffn_polars_spark import sources

    monkeypatch.setattr(sources, "SINGLE_PARTITION_MAX_ROWS", 0)

JOINS_WITHOUT_KEYS = ("CartesianProductExec", "BroadcastNestedLoopJoinExec")
SHUFFLED_JOINS = ("SortMergeJoinExec", "ShuffledHashJoinExec")


def names(plan):
    return [n.name for n in plan_nodes(plan)]


def count_named(plan, name) -> int:
    return names(plan).count(name)


def partitioning(exchange) -> str:
    """Class of a shuffle exchange's partitioning: HashPartitioning,
    RangePartitioning, SinglePartition, RoundRobinPartitioning."""
    return exchange.jvm.outputPartitioning().getClass().getSimpleName().rstrip("$")


def splits(nodes) -> int:
    """Token-split evaluation sites (StringSplit expressions) in ``nodes``."""
    return sum(n.expr_classes().count("StringSplit") for n in nodes)


def assert_ranged_windows(df):
    """The distributed rank/cumsum idiom: every Window reads a
    RangePartitioning exchange, and no SinglePartition exchange (the whole
    input through one task) sits under any Window."""
    windows = [n for n in plan_nodes(df) if n.name == "WindowExec"]
    assert windows
    for w in windows:
        below = [
            partitioning(d) for d in w.descendants() if d.name == "ShuffleExchangeExec"
        ]
        assert "RangePartitioning" in below, below
        assert "SinglePartition" not in below, below


def test_pricing_summary_pushdown_and_pruning(spark):
    df = QUERY_FNS["pricing_summary"](spark, SF)
    # the shipdate predicate must reach the parquet scan — THROUGH the
    # conditional spread repartition (r13): predicate pushdown crosses
    # RepartitionByExpression
    assert any("l_shipdate" in f for f in pushed_filters(df))
    # lineitem has 16 columns; the scan must read only the 7 used plus the
    # spread's repartition key (l_orderkey — one extra long column, the
    # price of keying the conditional spread instead of a round-robin
    # repartition whose pre-sort costs more)
    schema = read_schemas(df)[0]
    assert "l_comment" not in schema and "l_partkey" not in schema
    assert schema.count(":") <= 8
    # scan -> [spread exchange] -> partial agg -> exchange -> final agg.
    # sf0.001's single-row-group file triggers the r13 spread_scan guard
    # (decimal partial agg would otherwise run inside the one scan task),
    # so two exchanges here; on sanely-row-grouped input the spread is a
    # no-op and the plan has the classic single agg exchange. Assert the
    # operator contract (1 or 2, layout-dependent), not the test data
    # generator's row-group layout (r14 advice fix).
    assert count_exchanges(df) in (1, 2)


def test_revenue_by_nation_broadcasts_dims(spark):
    df = QUERY_FNS["revenue_by_nation"](spark, SF)
    # nation (25 rows) is hinted broadcast; customer/orders side under the
    # local threshold also broadcasts — require at least the hinted one.
    assert count_broadcast_joins(df) >= 1
    # orderdate range filter pushes into the orders scan
    assert any("o_orderdate" in f for f in pushed_filters(df))


def test_series_op_single_exchange(spark):
    # partitionBy(event_type) windows: one hash exchange, nothing else
    df = QUERY_FNS["to_returns"](spark, SF)
    assert count_exchanges(df) == 1


def test_two_phase_agg_single_exchange(spark):
    # window + groupBy on the same keys must reuse one partitioning
    df = QUERY_FNS["calc_realized_volatility"](spark, SF)
    assert count_exchanges(df) == 1


def test_time_bars_single_exchange(spark):
    df = QUERY_FNS["time_bars"](spark, SF)
    assert count_exchanges(df) == 1


def test_events_scan_prunes_columns(spark):
    df = QUERY_FNS["calc_vwap"](spark, SF)
    schema = read_schemas(df)[0]
    # events has 7+ columns; vwap needs ts/value/event_type/event_id only
    assert "payload" not in schema and "user_id" not in schema


def test_pushed_filters_whole_in_list(spark):
    """A pushed In filter keeps its whole value list: the scan field is read,
    not cut at the first ']' of a rendered plan."""
    from pyspark.sql import functions as F

    from ffn_polars_spark.sources import read_table

    ev = read_table(spark, SF, "events")
    df = ev.where(F.col("event_type").isin("click", "view"))
    assert any("In(event_type, [click,view])" in f for f in pushed_filters(df))


def test_count_exchanges_counts_cached_plan_once(spark):
    """A frame that reads an eagerly pinned aggregate twice counts the
    pinned plan's exchange once: the cached plan is one plan, however many
    scans read it, and its pre-execution copy is not a second plan. Listed
    once, it still lies below both joins that read it, so a "nothing of
    type X below" check sees the whole subtree."""
    agg = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().cache()
    try:
        agg.count()
        assert count_exchanges(agg) == 1
        dims = [spark.range(7).selectExpr("id AS k", f"id * {i} AS v") for i in (1, 2)]
        both = agg.join(dims[0], "k").unionByName(agg.join(dims[1], "k"))
        assert count_named(both, "InMemoryTableScanExec") == 2
        assert count_exchanges(both) == 1
        joins = [n for n in plan_nodes(both) if "Join" in n.name]
        assert len(joins) == 2, joins
        for j in joins:
            assert any(d.name == "ShuffleExchangeExec" for d in j.descendants())
    finally:
        agg.unpersist()


def test_bootstrap_replicate_spreads_before_explode(spark):
    """Scale gate for the round-5 fix: the keyed bootstrap must carry an
    explicit round-robin repartition ahead of the trial explode — without
    it AQE coalesces a small upstream output to one partition and the
    10M-hash replicate stage runs single-threaded (measured 26s vs 0.9s)."""
    from ffn_polars_spark.operators.resample import bootstrap_replicate

    df = spark.range(100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS r")
    rep = bootstrap_replicate(df, num_trials=10, seed=1, key_col="k")
    nodes = plan_nodes(rep)
    generates = [n for n in nodes if n.name == "GenerateExec"]
    assert generates
    for g in generates:
        assert any(
            d.name == "ShuffleExchangeExec"
            and partitioning(d) == "RoundRobinPartitioning"
            for d in g.descendants()
        )


def test_dollar_bars_single_window_single_agg(spark):
    """dollar_bars = one per-key ordered window (cumulative traded value)
    feeding one hash aggregate — same shuffle budget as volume_bars."""
    df = QUERY_FNS["dollar_bars"](spark, SF)
    # window partition exchange + aggregate exchange, nothing more
    assert count_exchanges(df) <= 2


def test_sim_market_day_no_extra_shuffles(spark):
    """The md5-mode simulator aggregate keeps the same plan shape as the
    xxhash64 mode: range sources, one join of trades->quotes, one final
    aggregate — the portable hash must not add exchanges."""
    df = QUERY_FNS["sim_market_day"](spark, SF)
    assert count_exchanges(df) <= 4


def test_vocab_topk_local_topk_no_global_sort(spark):
    """vocab_topk: map-side partial counts + TakeOrderedAndProject — a
    global Sort node would mean the whole vocabulary is shuffled to order
    everything just to keep k rows."""
    df = QUERY_FNS["vocab_topk"](spark, SF)
    assert "TakeOrderedAndProjectExec" in names(df)
    # count aggregate + the r9 conditional scan-spread (the single-row-group
    # testdata under-feeds the scan, so the spread engages here; it is a
    # no-op on sane inputs — pinned by test_spread_scan_noop_on_healthy_scan)
    assert count_exchanges(df) == 2


def test_value_histogram_single_exchange_pruned_scan(spark):
    """Histogram: projection + one (group, bin) aggregate; the scan must
    read only the two columns involved."""
    df = QUERY_FNS["value_histogram"](spark, SF)
    assert count_exchanges(df) == 1
    schema = read_schemas(df)[0]
    assert "event_type" in schema and "value" in schema
    assert "user_id" not in schema and "ts" not in schema


def test_duplicate_spans_reads_two_columns_no_selfjoin(spark):
    """duplicate_spans: document-frequency via groupBy, never a self-join —
    the plan must contain no join of the span frame with itself beyond the
    doc-frequency attach, and the scan reads (doc_id, text) only."""
    df = QUERY_FNS["duplicate_spans"](spark, SF)
    schema = read_schemas(df)[0]
    assert "text" in schema and "lang" not in schema and "source" not in schema
    # distinct + dfreq groupBy + attach join + final groupBy: bounded budget
    # (two today: the doc_id exchange under the pinned distinct and the
    # span-keyed dfreq aggregate)
    assert count_exchanges(df) <= 4


def test_kmv_distinct_broadcasts_prefilter(spark):
    """kmv_distinct's HLL prefilter frame (one row per group) must attach
    as a broadcast join, not a shuffle join."""
    df = QUERY_FNS["kmv_distinct"](spark, SF)
    assert count_broadcast_joins(df) >= 1


def test_doc_shingles_builds_array_once(spark):
    """The inverted-index shingle explode must evaluate the interpreted
    array build exactly once per document: staging the array in a separate
    select duplicates the HOF expression into the Generate's implicit
    size-filter (and beyond), re-running the O(tokens) build per evaluation
    — measured 156 s vs 1.2 s on 50k docs."""
    df = QUERY_FNS["ngram_jaccard_pairs"](spark, SF)
    array_builds = evaluating(
        df._jdf.queryExecution().optimizedPlan(), "ArrayDistinct"
    )
    # the build may appear once inside each Generate (per join branch); any
    # node OUTSIDE a Generate evaluating it is the staged-explode duplication
    offenders = [n.name for n in array_builds if not n.name.startswith("Generate")]
    assert not offenders, offenders
    assert array_builds  # and it does appear where it should


def test_corpus_rollup_one_expand_one_shuffle(spark):
    # ROLLUP = a single Expand + partial/final aggregate: exactly one
    # shuffle regardless of how many grouping-set levels it emits
    df = QUERY_FNS["corpus_rollup"](spark, SF)
    assert count_named(df, "ExpandExec") >= 1
    # rollup aggregate + the r9 conditional scan-spread (see vocab_topk note)
    assert count_exchanges(df) == 2
    # scan prunes to the three used columns
    schema = read_schemas(df)[0]
    assert "doc_id" not in schema and "n_chars" not in schema


def test_robust_outliers_broadcast_joinbacks_pruned_scan(spark):
    # the per-group median/MAD tables join back via broadcast: the
    # corpus-sized side must never shuffle for a join
    df = QUERY_FNS["robust_outliers"](spark, SF)
    assert count_broadcast_joins(df) >= 2
    assert not set(SHUFFLED_JOINS) & set(names(df))
    schema = read_schemas(df)[0]
    assert "props" not in schema and "user_id" not in schema


def test_unigram_logprob_pruned_scans_no_cartesian_blowup(spark):
    df = QUERY_FNS["unigram_logprob"](spark, SF)
    # only doc_id+text are read from documents
    for schema in read_schemas(df):
        assert "lang" not in schema and "source" not in schema
    # the only nested-loop join is the 1-row corpus-total cross join
    assert count_named(df, "BroadcastNestedLoopJoinExec") <= 1


def test_corr_matrix_equijoin_only(spark):
    # the pair generation must be a bucket equi-join, never a cartesian
    # product of the tick series
    df = QUERY_FNS["corr_matrix"](spark, SF)
    assert not set(JOINS_WITHOUT_KEYS) & set(names(df))


def test_chunk_documents_no_shuffle_staged_tokens(spark):
    # pure map-side: tokenize + explode + slice must produce ZERO shuffles,
    # and the interpreted token build must not be duplicated into the
    # explode's generator (the Generate pathology — only the int start
    # sequence is exploded)
    df = QUERY_FNS["chunk_documents"](spark, SF)
    # the one exchange is the r9 conditional scan-spread (see vocab_topk
    # note); everything above it stays map-side
    assert count_exchanges(df) == 1
    # the regexp token split is built in a Project, not in the Generate.
    # Two nodes evaluate it today: the Project that stages __toks and, below
    # it, the Filter size(filter(split(...))) > 0 that re-splits every row
    # (a known double split, left for a later change)
    splitters = evaluating(df, "StringSplit")
    assert len(splitters) <= 2, splitters
    assert splits(splitters) <= 2
    assert not any(n.name == "GenerateExec" for n in splitters)


def test_embedding_normalize_no_shuffle_pruned_scan(spark):
    df = QUERY_FNS["embedding_normalize"](spark, SF)
    assert count_exchanges(df) == 0
    schema = read_schemas(df)[0]
    assert "label" not in schema


def test_embedding_explodes_build_inside_generate(spark):
    """The posexploded oracle views of embedding_normalize /
    embedding_quantize must keep the expensive interpreted builds (the
    norm fold, the max-abs scan) OUT of the Generate: staging the array
    through the operator's select and exploding the column re-evaluates
    the build per output row (measured 14.0 -> 0.5 s and 6.2 -> 0.65 s
    at sf1)."""
    for name in ("embedding_normalize", "embedding_quantize"):
        df = QUERY_FNS[name](spark, SF)
        plan = df._jdf.queryExecution().optimizedPlan()
        gen = [n for n in plan_nodes(plan) if n.name.startswith("Generate")]
        assert gen, name
        for n in gen:
            for e in n.exprs():
                assert "aggregate(" not in e and "array_max(" not in e, (name, e[:160])


def test_funnel_and_cohort_user_keyed_shapes(spark):
    # funnel: two aggregates, no joins at all
    df = QUERY_FNS["funnel_stages"](spark, SF)
    assert not has_join(df)
    # cohort: the first-event table joins back on the user key as an
    # equi-join (broadcast at this size; shuffle+AQE at scale) — never a
    # cartesian
    df2 = QUERY_FNS["cohort_retention"](spark, SF)
    assert not set(JOINS_WITHOUT_KEYS) & set(names(df2))


def test_quantile_bin_approx_broadcasts_cuts(spark):
    from ffn_polars_spark.operators.sketch import quantile_bin
    from ffn_polars_spark.sources import read_table

    ev = read_table(spark, SF, "events").select("event_id", "event_type", "value")
    df = quantile_bin(ev, "value", nbins=4, group_by=["event_type"], approx=True)
    # the cut-point table attaches via broadcast: the big side never
    # shuffles, and there is no sort anywhere in the approx path
    assert count_broadcast_joins(df) >= 1
    assert "SortExec" not in names(df)


def test_search_shapes(spark):
    # inverted index: posting lists sort in-row (sort_array), never via a
    # global Sort node; one distinct + one token aggregate
    df = QUERY_FNS["inverted_index"](spark, SF)
    assert "SortExec" not in names(df)
    assert count_exchanges(df) <= 2
    # keyword search: the query terms attach via broadcast — the exploded
    # corpus side is semi-filtered before any shuffle
    df2 = QUERY_FNS["keyword_search"](spark, SF)
    assert count_broadcast_joins(df2) >= 1
    assert "SortMergeJoinExec" not in names(df2)


def test_partitioned_roundtrip_prunes_directories(spark):
    """The partition predicate must resolve as a PartitionFilter on the
    re-read scan (directory pruning), not a row-level data filter."""
    df = QUERY_FNS["partitioned_roundtrip"](spark, SF)
    filters = partition_filters(df)
    assert any("event_type" in f for f in filters), filters


def test_join_profile_scans_each_side_once(spark):
    """The one-row integrity report must come out of a single pass: one
    fact scan, one dim scan, one full-outer key join, one aggregate —
    NOT one sub-job per metric (the naive shape scans the fact table
    five times)."""
    df = QUERY_FNS["join_profile"](spark, SF)
    assert count_named(df, "FileSourceScanExec") <= 2


def test_scrub_spans_no_cartesian_dup_join_is_equi(spark):
    df = QUERY_FNS["scrub_spans"](spark, SF)
    # the duplicated-span set joins back by span key, never a pair blowup
    assert not set(JOINS_WITHOUT_KEYS) & set(names(df))
    # spans come from lead() windows over the exploded tokens, not a
    # re-tokenize-per-span staged explode: one Generate per corpus pass
    # (the dup-set branch and the flagging branch each re-read the scan),
    # never one per span width
    assert count_named(df, "GenerateExec") <= 2


def test_cap_per_group_single_window_exchange(spark):
    df = QUERY_FNS["cap_per_group"](spark, SF)
    assert not has_join(df)  # rank-and-filter, no join
    # one hash partitioning on the group key for the row_number window
    assert count_exchanges(df) == 1


def test_amihud_single_exchange(spark):
    # lag window + hash agg on the same key: one exchange total
    df = QUERY_FNS["amihud_illiquidity"](spark, SF)
    assert count_exchanges(df) == 1


def test_roll_kyle_gini_single_exchange(spark):
    # lag/rank window + same-key aggregate: one exchange each, no join
    for name in ("roll_spread", "kyle_lambda", "gini_by_group"):
        df = QUERY_FNS[name](spark, SF)
        assert not has_join(df), name
        assert count_exchanges(df) == 1, name


def test_zipf_slope_distributed_rank_no_single_partition_window(spark):
    # global ranks come from the distributed idiom: range-repartition by
    # (freq desc, token) + per-partition row_number + broadcast offsets —
    # the Window must partition by __pid over RangePartitioning, never
    # funnel the vocabulary through Exchange SinglePartition
    df = QUERY_FNS["zipf_slope"](spark, SF)
    assert not has_join(df)
    # the only SinglePartition exchange is the final 1-row moment agg,
    # which must sit ABOVE the rank window
    assert_ranged_windows(df)


def test_centroid_similarity_broadcast_dim_join_bounded_shuffle(spark):
    # centroid table is cardinality-bounded: its dim self-join and the
    # count attaches must all broadcast — no SortMergeJoin of a
    # corpus-sized side anywhere
    df = QUERY_FNS["centroid_similarity"](spark, SF)
    assert count_broadcast_joins(df) >= 3
    assert not {"SortMergeJoinExec", "CartesianProductExec"} & set(names(df))


def test_vpin_bucket_then_key_agg_bounded(spark):
    # window + (key,bucket) agg + per-key agg: after the bucket aggregate
    # only bucket-count rows flow — exchanges bounded, no join
    df = QUERY_FNS["vpin"](spark, SF)
    assert not has_join(df)
    assert count_exchanges(df) <= 2


def test_corwin_schultz_windows_bar_frame_only(spark):
    # the lead window runs over the aggregated BAR frame: every Window has
    # the bar aggregate below it
    df = QUERY_FNS["corwin_schultz"](spark, SF)
    assert not has_join(df)
    windows = [n for n in plan_nodes(df) if n.name == "WindowExec"]
    assert windows
    for w in windows:
        assert any(d.name == "HashAggregateExec" for d in w.descendants())


def test_doc_entropy_two_doc_keyed_aggregates_no_join(spark):
    # ln(N) - sum(c ln c)/N identity: both aggregates key on the doc, so
    # there is no normalization join anywhere
    df = QUERY_FNS["doc_entropy"](spark, SF)
    assert not has_join(df)
    assert count_exchanges(df) <= 2


def test_ks_drift_distributed_cumsum_no_single_partition_window(spark):
    # ECDF cumsums run through ranged_cumsum: RangePartitioning + __pid
    # windows; no Exchange SinglePartition ahead of the Window
    df = QUERY_FNS["ks_drift"](spark, SF)
    assert_ranged_windows(df)


def test_vocab_jsd_single_token_aggregate_broadcast_totals(spark):
    # one token-keyed aggregate; the totals row attaches via broadcast
    # nested-loop (1 row), never a shuffle join keyed on data
    df = QUERY_FNS["vocab_jsd"](spark, SF)
    assert not set(SHUFFLED_JOINS) & set(names(df))
    # the token agg runs once, into the pin that both the totals branch and
    # the join branch read, + the 1-row totals agg + the final global agg
    assert count_exchanges(df) <= 3


def test_psi_drift_bin_aggregate_broadcast_totals(spark):
    # one bin-keyed aggregate (shuffle bounded at nbins rows per
    # partition), broadcast 1-row totals, final sum — no shuffle joins
    df = QUERY_FNS["psi_drift"](spark, SF)
    assert not set(SHUFFLED_JOINS) & set(names(df))
    assert count_exchanges(df) <= 4


def test_portfolio_returns_no_join_single_ts_aggregate(spark):
    # weights fold into an in-plan literal map: no join anywhere; the bar
    # build + lag window + ts aggregate bound the exchanges
    df = QUERY_FNS["portfolio_returns"](spark, SF)
    assert not has_join(df)
    assert count_exchanges(df) <= 3


def test_omega_capture_single_exchange(spark):
    # lag window + conditional-sum aggregate on the same key: one exchange
    for name in ("omega_ratio", "capture_ratios"):
        df = QUERY_FNS[name](spark, SF)
        assert not has_join(df), name
        assert count_exchanges(df) == 1, name


def test_return_stats_single_exchange_streaks_bounded(spark):
    # return_stats: lag window + ONE hash aggregate on the same key
    df = QUERY_FNS["return_stats"](spark, SF)
    assert count_exchanges(df) == 1
    # streak_stats: windows share one sort; after the run aggregate only
    # run-count rows flow to the per-key maxima
    df2 = QUERY_FNS["streak_stats"](spark, SF)
    assert not has_join(df2)
    assert count_exchanges(df2) <= 2


def test_hurst_exponent_no_join_bounded_exchanges(spark):
    # q-sum staging shares variance_ratio's single Window pass; the
    # two-level reduction (per-(key,q) variance, per-key regression)
    # adds tiny aggregates, never a join
    df = QUERY_FNS["hurst_exponent"](spark, SF)
    assert not has_join(df)
    assert count_named(df, "WindowExec") <= 2  # lag + q-sums


def test_variance_ratio_one_sort_all_horizons(spark):
    # every horizon's overlapping sum shares ONE sorted window pass
    # (a single Window node computes all the frames), then one (key, q)
    # aggregate — no join, bounded exchanges
    df = QUERY_FNS["variance_ratio"](spark, SF)
    assert not has_join(df)
    assert count_named(df, "WindowExec") <= 2  # lag + q-sums
    assert count_exchanges(df) <= 2


def test_bucketed_join_no_exchange(spark):
    # the co-located layout: both sides bucketed+sorted by the join key ->
    # the sort-merge join must read buckets directly, no Exchange anywhere
    df = QUERY_FNS["bucketed_join"](spark, SF)
    # no shuffle feeding the join itself; the final tiny aggregate may
    # exchange on the group key
    joins = [n for n in plan_nodes(df) if "Join" in n.name]
    assert joins, "expected a join in the plan"
    # the join inputs must come straight from bucketed scans: no Exchange
    # of any kind in the join's subtree
    for j in joins:
        below = [d.name for d in j.descendants()]
        assert not [n for n in below if "Exchange" in n], below


def test_execution_slippage_single_exchange(spark):
    # ordered sign window runs first; the bucket-VWAP window reuses its
    # hash(keys) exchange via the subset rule
    df = QUERY_FNS["execution_slippage"](spark, SF)
    assert count_exchanges(df) == 1


def test_auc_and_quantile_transform_single_exchange(spark):
    # midrank machinery: rank window + tie window + (for the transform)
    # group count all share one hash(keys) exchange
    for name in ("auc_by_group", "quantile_transform"):
        df = QUERY_FNS[name](spark, SF)
        assert count_exchanges(df) == 1, name


def test_triple_barrier_no_join_one_exchange(spark):
    # bounded future-frame array + lambdas: no self-join, one exchange
    df = QUERY_FNS["triple_barrier_label"](spark, SF)
    assert not has_join(df)
    assert count_exchanges(df) == 1


def test_radius_join_is_cell_equi_join(spark):
    """The spatial radius join must candidate-generate through the cell
    equi-join — a CartesianProduct/BroadcastNestedLoop in the plan means
    the grid bucketing silently degraded to all-pairs."""
    df = QUERY_FNS["radius_join"](spark, SF)
    assert not set(JOINS_WITHOUT_KEYS) & set(names(df))


def test_triangle_count_no_cartesian(spark):
    df = QUERY_FNS["triangle_count"](spark, SF)
    assert not set(JOINS_WITHOUT_KEYS) & set(names(df))


def test_newey_west_single_window_all_lags(spark):
    """All five lag columns must come from ONE WindowExec — a window per
    lag would be five sorts of the tick frame. (The return-lag subtree
    legitimately appears once per join branch.)"""
    df = QUERY_FNS["newey_west_tstat"](spark, SF)
    lag_windows = [
        n
        for n in plan_nodes(df)
        if n.name == "WindowExec" and any("__u1" in e for e in n.exprs())
    ]
    assert len(lag_windows) == 1
    # all five lags in the same WindowExec
    assert any("__u5" in e for e in lag_windows[0].exprs())


def test_top_pc_moment_pass_is_one_aggregate(spark):
    """embedding_top_pc's distributed step: mapInPandas per-partition
    outer-product partials -> ONE hash aggregate at d^2 cardinality; no
    window, no cartesian."""
    from ffn_polars_spark.operators.linalg import embedding_top_pc
    from ffn_polars_spark.sources import read_table

    emb = read_table(spark, SF, "embeddings")
    out = embedding_top_pc(emb)  # driver math; plan checked via the result
    assert out.count() == 64


def test_gram_frame_no_join_single_exchange(spark):
    """The second-moment accumulation must NOT join or re-shuffle row data:
    mapInPandas emits d^2 partials per partition and one exchange at
    partial-row (not row) cardinality feeds the final aggregate. A Join or
    Generate node here means the posexplode+self-join shape (2*n*d shuffled
    rows, n*d^2 join output — VERDICT r6 'What's wrong #2') crept back."""
    from ffn_polars_spark.operators.linalg import gram_frame
    from ffn_polars_spark.sources import read_table

    emb = read_table(spark, SF, "embeddings")
    g = gram_frame(emb, "embedding")
    assert not has_join(g)
    assert "GenerateExec" not in names(g)  # no posexplode
    assert count_exchanges(g) == 1


def test_embedding_covariance_no_row_join_broadcast_joinbacks(spark):
    """embedding_covariance: the moment pass is join-free (partials via
    mapInPandas); the only joins in the full plan attach the d-sized means
    and diagonal frames — all of them broadcast."""
    df = QUERY_FNS["embedding_covariance"](spark, SF)
    found = set(names(df))
    assert "GenerateExec" not in found  # no posexplode of row data
    assert not {*SHUFFLED_JOINS, "CartesianProductExec"} & found


def test_embedding_remove_pc_projection_pass_no_shuffle(spark):
    """The projection pass of embedding_remove_pc is per-row arithmetic
    against a closure-captured d-vector: scan -> mapInPandas, zero
    exchanges, zero joins (the old shape joined a per-id dot frame back —
    two shuffles of n*d rows)."""
    from ffn_polars_spark.operators.linalg import embedding_remove_pc
    from ffn_polars_spark.sources import read_table

    emb = read_table(spark, SF, "embeddings")
    out = embedding_remove_pc(emb)
    assert not has_join(out)
    assert count_exchanges(out) == 0


def test_clean_corpus_single_token_materialization(spark):
    # clean_corpus composes quality features + the 4-language vote + the
    # fingerprint: all token features must read ONE staged token array —
    # inlining tokens() into the interpreted HOFs put 15 copies of the
    # regex split in the plan (round-8 find; measured 10.45 -> 6.55 s at
    # sf1): one node evaluates one split
    df = QUERY_FNS["clean_corpus"](spark, SF)
    splitters = evaluating(df, "StringSplit")
    assert len(splitters) <= 1, splitters
    assert splits(splitters) <= 1


def test_language_id_single_token_materialization(spark):
    # the best-language struct is referenced twice (lang + n) and holds
    # four interpreted filters — unstaged, the split evaluated 8x
    df = QUERY_FNS["language_id"](spark, SF)
    splitters = evaluating(df, "StringSplit")
    assert len(splitters) <= 1, splitters
    assert splits(splitters) <= 1


def test_ivf_assigns_cells_from_raw_vector(spark):
    # cell assignment is norm-invariant, and feeding unit vectors to the
    # assign UDF costs two O(d^2) interpreted normalizes over the item
    # table (the join's inferred isnotnull(__cell) re-runs the UDF below
    # the exchange) — the UDF argument must be the raw embedding column
    df = QUERY_FNS["ann_topk_ivf"](spark, SF)
    udfs = [
        u
        for n in plan_nodes(df)
        if n.name == "ArrowEvalPythonExec"
        for u in as_list(n.jvm.udfs())
        if u.name() == "_cells"
    ]
    assert udfs, "the cell assignment must evaluate via ArrowEvalPython"
    for u in udfs:
        for arg in as_list(u.children()):
            assert "transform" not in arg.toString(), arg.toString()


def test_audit_sweep_pins_engaged(spark):
    # the round-8 plan-audit fixes pin the first aggregate / derived frame
    # of multi-branch shapes; if a refactor drops the pin, the branches
    # silently go back to re-scanning the corpus. InMemoryTableScan in the
    # executed plan is the cheap observable that the pin engaged.
    from ffn_polars_spark.pins import release_pins

    # dedup_exact / clean_corpus left this list in r13: their canonical-id
    # resolution became min-over-window (single branch, single exchange),
    # so there is no multi-branch re-derivation left to pin.
    for name in ("bm25_search", "tfidf_topterms",
                  "duplicate_spans", "pack_sequences",
                  "langid_agreement", "centroid_outliers"):
        found = names(QUERY_FNS[name](spark, SF))
        release_pins()
        assert "InMemoryTableScanExec" in found, f"{name}: pin not engaged"


def test_flesch_counts_staged_once(spark):
    # words/sentences/syllables are staged scalars — inline references
    # re-tokenized per use (10 splits before the round-8 fix)
    df = QUERY_FNS["flesch_readability"](spark, SF)
    # three splits (words, sentences, words per sentence), all in the one
    # Project that stages the counts
    splitters = evaluating(df, "StringSplit")
    assert [n.name for n in splitters] == ["ProjectExec"], splitters
    assert splits(splitters) <= 3


def test_spread_scan_noop_on_healthy_scan(spark, tmp_path):
    """The r9 conditional scan-spread must be a NO-OP when the scan's
    effective parallelism (min of byte splits and parquet row groups)
    already covers half the cluster's slots — at real scale with sane
    row-group sizes the text/dedup pipelines keep their zero-extra-shuffle
    plans. Also pins the defect it fixes: a single-row-group file reports
    an effective parallelism of 1 no matter how many byte splits Spark
    makes (a row group is the atomic read unit — one task would read every
    row)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ffn_polars_spark.operators._scanmeta import scan_row_groups, spread_scan

    target = spark.sparkContext.defaultParallelism
    n = 10_000
    tbl = pa.table({"doc_id": list(range(n)), "text": ["w " * 8] * n})

    healthy = str(tmp_path / "healthy.parquet")
    pq.write_table(tbl, healthy, row_group_size=max(1, n // (2 * target)))
    h = spark.read.parquet(healthy)
    assert scan_row_groups(h) >= 2 * target  # footers see the real ceiling

    lumpy = str(tmp_path / "lumpy.parquet")
    pq.write_table(tbl, lumpy, row_group_size=n)  # one row group
    l = spark.read.parquet(lumpy)
    assert scan_row_groups(l) == 1
    for key in ("doc_id", None):  # keyed and round-robin
        # one row group spreads regardless of byte splits
        assert count_exchanges(spread_scan(l, key)) == 1

    # non-scan frames have no footer signal: effective = real partition
    # count, and an already-parallel frame is returned untouched (the
    # at-scale no-op contract)
    wide = spark.range(0, n, numPartitions=target)
    for key in ("id", None):
        assert spread_scan(wide, key) is wide


def test_blocked_keyed_lag_plan_shape(spark, tmp_path):
    """The blocked lag's physical plan: the tape's data-sized exchange is
    the (block, keys) window exchange; the seam branch prunes down to a
    scan + partial aggregate + blocks x keys-row exchange (never a second
    data-sized shuffle of full rows); the seam join broadcasts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ffn_polars_spark.core import blocked_keyed_lag

    f = str(tmp_path / "tape.parquet")
    pq.write_table(
        pa.table(
            {
                "k": ["a", "b"] * 500,
                "ts": list(range(1000)),
                "v": [float(i) for i in range(1000)],
            }
        ),
        f,
    )
    df = spark.read.parquet(f)
    out = blocked_keyed_lag(df, ["k"], ["ts"], {"lv": "v"}, num_blocks=4)
    nodes = plan_nodes(out)
    found = [n.name for n in nodes]
    # the seam join must not sort-merge the tape
    assert "BroadcastHashJoinExec" in found
    assert "SortMergeJoinExec" not in found
    # exactly the two branch scans (window + pruned bounds), no more
    assert found.count("FileSourceScanExec") == 2
    # the window partitions by (block, keys) — the parallelism carrier
    assert any(
        as_list(n.jvm.partitionSpec())[0].toString().startswith("__blk")
        for n in nodes
        if n.name == "WindowExec"
    )
    # the bounds branch aggregates map-side BEFORE its exchange: an
    # exchange has a partial aggregate on (block, keys) below it
    assert any(
        "Aggregate" in a.name
        and any("partial_" in e for e in a.exprs())
        and any(e.startswith("__blk") for e in a.exprs())
        for x in nodes
        if x.name == "ShuffleExchangeExec"
        for a in x.descendants()
    )


def test_unkeyed_blocked_cumsum_plan_shape(spark, tmp_path):
    """An integer-ordered, un-keyed blocked_keyed_cumsum takes its blocks
    from the order value: the window's exchange on the block id is the
    one data-sized shuffle (every other exchange has an aggregate below
    it and ships per-block totals), and nothing is range-partitioned.
    The totals branch re-reads the same exchange: the offsets join keeps
    every local row (a left join), so no inferred filter makes the two
    branches' exchanges differ, and the executed plan reuses it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ffn_polars_spark.core import blocked_keyed_cumsum

    f = str(tmp_path / "ids.parquet")
    pq.write_table(
        pa.table({"id": list(range(1000)), "v": list(range(1000))}), f
    )
    out = blocked_keyed_cumsum(
        spark.read.parquet(f), [], ["id"], {"c": "v"}, num_blocks=4
    )
    assert max(r.c for r in out.collect()) == 999 * 1000 // 2
    exchanges = [n for n in plan_nodes(out) if n.name == "ShuffleExchangeExec"]
    assert "RangePartitioning" not in [partitioning(x) for x in exchanges]
    rows = [
        x
        for x in exchanges
        if not any("Aggregate" in d.name for d in x.descendants())
    ]
    assert len(rows) == 1, [partitioning(x) for x in exchanges]
    assert partitioning(rows[0]) == "HashPartitioning"


def _arrow_eval_nodes(df):
    """The UDF expressions of every ArrowEvalPython node, one string per
    node."""
    return [
        " ".join(u.toString() for u in as_list(n.jvm.udfs()))
        for n in plan_nodes(df)
        if n.name == "ArrowEvalPythonExec"
    ]


def test_minhash_kernel_fence_one_udf_per_arrow_node(spark):
    """The minhash signature kernel relies on asNondeterministic() to stop
    CollapseProject from inlining the UDF into each element_at band
    projection (_arrow_kernels.py): without the fence one ArrowEvalPython
    node would carry num_hashes copies of _sig — the kernel re-run per
    band column. Spark-version-sensitive idiom, so pin it: every
    ArrowEvalPython node in the plan must evaluate exactly ONE _sig call.
    (Several nodes would be fine: each is one kernel pass. The lazily
    pinned signature frame is one cached plan however many branches read
    it.)"""
    nodes = _arrow_eval_nodes(QUERY_FNS["dedup_minhash_lsh"](spark, SF))
    assert nodes, "minhash kernel must evaluate via ArrowEvalPython"
    for args in nodes:
        assert args.count("_sig(") == 1, args


def test_winnow_kernel_fence_single_arrow_node(spark):
    """Same fence for the winnow rolling-hash kernel: exactly one
    ArrowEvalPython node evaluating exactly one _fps call — the
    InferFiltersFromGenerate/CollapseProject duplication around the
    downstream explode is what asNondeterministic() prevents."""
    nodes = _arrow_eval_nodes(QUERY_FNS["winnow_fingerprints"](spark, SF))
    assert len(nodes) == 1, nodes
    assert nodes[0].count("_fps(") == 1, nodes[0]
