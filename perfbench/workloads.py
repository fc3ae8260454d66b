"""Named query mixes the benchmark runs, and the layer map behind them.

Each workload is a list of catalog queries (``ffn_polars_spark.queries``)
run at one scale factor over tables that ``tools/gen_testdata.generate``
builds from the run's seed.

Two mixes, because a run has to stay near a minute (session start-up
~12 s, a cold oracle-check pass, two to four timed passes) and the
benchmark is run 22 times per workload. The corpus mix folds in what an
ingest/stream mix would cover: a pandas-state stream and a ``sources``
write. An execute-bound scan/bootstrap mix is left out
(resample_returns_poisson alone takes ~10 s a pass); the execute-layer
metrics are read on both kept mixes. The tick mix leaves out
calc_calmar_ratio and quote_analytics for the same budget: it keeps one
query of each kind (ratios, drawdown, bars, flow, as-of join, sessions).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Tuple


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: Tuple[str, ...]
    # warm wall time of one pass on 4 cores; fixes how many passes
    # ``--seconds`` buys, so every run of a workload takes the same samples
    nominal_pass_s: float
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="tick_eod",
            sf=0.1,
            queries=(
                "to_returns",
                "calc_sharpe",
                "calc_max_drawdown",
                "ulcer_index",
                "calc_realized_volatility",
                "calc_vwap",
                "time_bars",
                "calc_order_flow_imbalance",
                "asof_join_backward",
                "session_stats",
            ),
            nominal_pass_s=4.6,
            why=(
                "sf0.1, 10 EOD and tick floor queries (returns, ratios, "
                "drawdown, bars, VWAP, as-of join, sessions): latency-bound JVM "
                "work, no Python boundary"
            ),
        ),
        Workload(
            name="corpus_stream",
            sf=0.05,
            queries=(
                "dedup_minhash_lsh",
                "ann_topk",
                "text_quality",
                "streaming_running_vwap",
                "bucketed_join",
                "language_id",
                "doc_fingerprint",
                "text_token_count",
                "embedding_normalize",
            ),
            nominal_pass_s=7.0,
            why=(
                "sf0.05, MinHash dedup, ANN, text and embedding ops, a "
                "pandas-state stream and a bucketed write: Arrow kernels, eager "
                "pins, streaming and sources writes"
            ),
        ),
    )
}


# Which end-to-end metric each per-layer metric should move, and where.
# A layer metric that does not apply to a workload prints 0 there.
LAYER_MAP = {
    "build.s": "query_geomean_s on tick_eod; pass_s on corpus_stream",
    "build.jobs": "query_geomean_s on tick_eod; pass_s on corpus_stream",
    "read_table.calls": "query_geomean_s on tick_eod",
    "read_table.s": "query_geomean_s on tick_eod",
    "read_table.jobs": "query_geomean_s on tick_eod",
    "write.s": "pass_s on corpus_stream",
    "write.mb": "pass_s on corpus_stream",
    "plan.s": "query_geomean_s on tick_eod",
    "exec.s": "pass_s and query_tail_s on both",
    "exec.jobs": "pass_s and query_tail_s on both",
    "exec.tasks": "pass_s and query_tail_s on both",
    "exec.task_ms": "pass_s and query_tail_s on both",
    "exec.gc_ms": "pass_s and query_tail_s on both",
    "exec.scan_mb": "pass_s on both",
    "exec.shuffle_mb": "pass_s on both",
    "exec.spill_mb": "pass_s on both",
    "exec.slot_util": "pass_s on both",
    "python.run_ms": "pass_s on corpus_stream (0 on tick_eod)",
    "python.start_ms": "pass_s on corpus_stream (0 on tick_eod)",
    "python.init_ms": "pass_s on corpus_stream (0 on tick_eod)",
    "python.sent_mb": "pass_s on corpus_stream (0 on tick_eod)",
    "python.recv_mb": "pass_s on corpus_stream (0 on tick_eod)",
    "python.udf_ms": "pass_s on corpus_stream (0 on tick_eod)",
    "pins.mb": "peak_rss_mb on corpus_stream",
    "dedup.pair_yield": "pass_s on corpus_stream",
    "stream.batches": "pass_s on corpus_stream",
    "stream.batch_ms": "pass_s on corpus_stream",
    "stream.rows": "pass_s on corpus_stream",
    "driver.peak_rss_mb": "none: the Spark driver JVM's peak RSS, unbounded (it moves 20-40% between runs)",
    "trace.overhead": "none: traced pass_s / untraced pass_s",
}
