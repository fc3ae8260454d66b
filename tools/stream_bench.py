"""Streaming throughput micro-bench: rows/s and state-store size for the
streaming operators, on a rate source (no disk I/O in the loop).

Usage:
    python tools/stream_bench.py [duration_seconds] [rows_per_second] [n_tickers]

``n_tickers`` (default 1000) scales the KEYED STATE a full decade at a
time (1k -> 10k -> 100k keys) while the offered row rate stays fixed —
the streaming analogue of the batch families' sf10 -> sf100 data decades:
state per operator is keys x open-windows (bars), keys (vwap/topk), or
rate x horizon (stream-stream joins, key-count independent).

Drives eight streaming queries, each for `duration_seconds` (default 30;
at least 90 for the two stream-stream joins) counted from its first batch
that carries rows, at `rows_per_second` offered load (default 500_000), on
a `get_spark()` session; among them:

* streaming_time_bars — watermark-bounded windowed aggregation.
* stateful_running_vwap — applyInPandasWithState custom stateful operator.

For each, prints a JSON line with the mean/max processedRowsPerSecond over
the completed batches and the state-store metrics of the LAST batch
(numRowsTotal, memoryUsedBytes), plus a bounded-state check: with K tickers
and a 1-minute bar / 30-second watermark, time-bars state must stay within a
small multiple of K x open-windows; running-vwap state must equal K exactly.
Exits non-zero when any query's state is over its bound, or was never
measured because the query completed no batch.

The rate source emits (timestamp, value); ticker/price/volume are derived
arithmetically so the per-row cost matches a real tick tape's column shapes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_TICKERS = 1_000  # overridden by argv[3]


def make_stream(spark, rows_per_second: int):
    from pyspark.sql import functions as F

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option("numPartitions", 16)
        .load()
    )
    return (
        rate.withColumn("ticker", (F.col("value") % N_TICKERS).cast("string"))
        .withColumn("price", 100.0 + (F.col("value") % 500) / 100.0)
        .withColumn("volume", (1 + F.col("value") % 7).cast("double"))
        .withColumn("event_time", F.col("timestamp"))
    )


def drive(name: str, result_df, duration_s: float, output_mode: str = "update") -> dict:
    q = (
        result_df.writeStream.format("noop")
        .outputMode(output_mode)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # time `duration_s` from the first batch that carries rows: a query's
        # first stateful batch can take longer than a short run, which then
        # saw no batch and had no state to check against its bound
        deadline = time.time() + 120
        while time.time() < deadline and not any(
            p.get("numInputRows", 0) > 0 for p in q.recentProgress
        ):
            time.sleep(0.5)
        time.sleep(duration_s)
        rates, state = [], None
        for p in q.recentProgress:
            if p.get("numInputRows", 0) > 0:
                rates.append(p["processedRowsPerSecond"])
            ops = p.get("stateOperators") or []
            if ops:
                state = {
                    "numRowsTotal": sum(o.get("numRowsTotal", 0) for o in ops),
                    "memoryUsedBytes": sum(
                        o.get("memoryUsedBytes", 0) for o in ops
                    ),
                }
    finally:
        q.stop()
    # drop the cold-start batch from the mean
    steady = rates[1:] or rates
    return {
        "query": name,
        "batches": len(rates),
        "rows_per_sec_mean": round(sum(steady) / max(len(steady), 1)),
        "rows_per_sec_max": round(max(rates) if rates else 0),
        "state_rows": state["numRowsTotal"] if state else None,
        "state_bytes": state["memoryUsedBytes"] if state else None,
    }


def main() -> None:
    global N_TICKERS
    duration = float(sys.argv[1]) if len(sys.argv) > 1 else 30.0
    rps = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
    if len(sys.argv) > 3:
        N_TICKERS = int(sys.argv[3])

    from ffn_polars_spark.sources import get_spark
    from ffn_polars_spark.streaming import (
        stateful_running_vwap,
        streaming_time_bars,
    )

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    bars = streaming_time_bars(
        make_stream(spark, rps),
        "price",
        "volume",
        by=["ticker"],
        bar="1 minute",
        delay_threshold="30 seconds",
    )
    r1 = drive("streaming_time_bars", bars, duration)
    # bounded-state check: open windows per key <= ceil(duration/60)+2
    max_windows = int(duration // 60) + 3
    r1["state_bounded"] = (
        r1["state_rows"] is not None and r1["state_rows"] <= N_TICKERS * max_windows
    )
    print(json.dumps(r1), flush=True)

    vwap = stateful_running_vwap(
        make_stream(spark, rps), "ticker", "price", "volume"
    )
    r2 = drive("stateful_running_vwap", vwap, duration)
    # lifetime state: exactly one row per key ever
    r2["state_bounded"] = r2["state_rows"] is not None and r2["state_rows"] <= N_TICKERS
    print(json.dumps(r2), flush=True)

    from ffn_polars_spark.streaming import streaming_topk

    topk = streaming_topk(make_stream(spark, rps), ["ticker"], k=10)
    r3 = drive("streaming_topk", topk, duration, output_mode="complete")
    # complete-mode count state: one row per distinct key
    r3["state_bounded"] = r3["state_rows"] is not None and r3["state_rows"] <= N_TICKERS
    print(json.dumps(r3), flush=True)

    from pyspark.sql import functions as F

    from ffn_polars_spark.streaming import stateful_cusum, streaming_interval_join

    # two-sided stream-stream join state: each side buffers lookback +
    # delay_threshold of rows; with a 30s lookback at `rps` offered, state
    # must plateau near 2 * rps * (lookback + delay) rows, never grow
    # unboundedly. Sides get disjoint column names and a shared key.
    # Stream-stream joins buffer BOTH sides in the state store until the
    # watermark passes lookback + delay — per-row cost is 1-2 orders above
    # a stateless aggregation, so offer rps/10 per side and give the
    # watermark time to start evicting (min 90 s window).
    # rps/10 per side, floored at 50k ONLY when the run itself offers more
    # than that — a low-rps smoke run (--rps 5000) must stay low, not get
    # silently inflated to 100k rows/s total through the most state-heavy
    # query (and its state-plateau bound with it).
    ij_rps = min(max(rps // 10, 50_000), rps)
    lhs = make_stream(spark, ij_rps).select(
        F.col("ticker").alias("l_key"),
        F.col("price").alias("l_price"),
        F.col("event_time").alias("l_time"),
    )
    rhs = make_stream(spark, ij_rps).select(
        F.col("ticker").alias("r_key"),
        F.col("volume").alias("r_vol"),
        F.col("event_time").alias("r_time"),
    )
    ij = streaming_interval_join(
        lhs, rhs, "l_key", "r_key",
        left_ts="l_time", right_ts="r_time",
        lookback="10 seconds", delay_threshold="5 seconds",
    )
    r4 = drive(
        "streaming_interval_join", ij, max(duration, 90.0), output_mode="append"
    )
    # plateau bound: both sides buffer ~(lookback + delay) of input plus
    # whatever the watermark hasn't evicted yet; 4x headroom for trigger
    # alignment and batch backlog
    horizon_rows = 2 * ij_rps * (10 + 5)
    r4["state_bounded"] = (
        r4["state_rows"] is not None and r4["state_rows"] <= 4 * horizon_rows
    )
    print(json.dumps(r4), flush=True)

    # the documented mitigation as an operator: aggregate each side to
    # 1-second bars FIRST, interval-join the bars. State is keys x bars
    # (N_TICKERS x (lookback + delay) per side), not raw rows — so this
    # runs at the FULL offered rate where the tick-tick join above needs
    # rps/10, and the throughput row below is directly comparable to r4.
    from ffn_polars_spark.streaming import streaming_preagg_interval_join

    plhs = make_stream(spark, rps).select(
        F.col("ticker").alias("l_key"),
        F.col("price").alias("l_price"),
        F.col("volume").alias("l_vol"),
        F.col("event_time").alias("l_time"),
    )
    prhs = make_stream(spark, rps).select(
        F.col("ticker").alias("r_key"),
        F.col("volume").alias("r_vol2"),
        F.col("event_time").alias("r_time"),
    )
    pij = streaming_preagg_interval_join(
        plhs, prhs, "l_key", "r_key",
        left_aggs={
            "l_vwap": F.sum(F.col("l_price") * F.col("l_vol")) / F.sum("l_vol"),
            "l_n": F.count(F.lit(1)),
        },
        right_aggs={"r_volume": F.sum("r_vol2")},
        bar="1 second",
        left_ts="l_time", right_ts="r_time",
        lookback="10 seconds", delay_threshold="5 seconds",
    )
    r6 = drive(
        "streaming_preagg_interval_join", pij, max(duration, 90.0),
        output_mode="append",
    )
    # state: four stateful operators each hold key x bar rows — two
    # windowed aggs (open bars within delay) and the two join sides
    # (bars within lookback + delay) — all key-x-bar cardinality,
    # independent of the offered rate (the contract this row verifies).
    # 4x headroom for trigger alignment and batch backlog, as in r4.
    bar_horizon = N_TICKERS * 4 * (10 + 5 + 2)
    r6["state_bounded"] = (
        r6["state_rows"] is not None and r6["state_rows"] <= 4 * bar_horizon
    )
    print(json.dumps(r6), flush=True)

    cusum = stateful_cusum(
        make_stream(spark, rps), "ticker", "event_time", "price",
        target=102.5, threshold=25.0, drift=0.5,
    )
    r5 = drive("stateful_cusum", cusum, duration, output_mode="update")
    # lifetime state: one (mean, s_pos, s_neg, n) row per key
    r5["state_bounded"] = r5["state_rows"] is not None and r5["state_rows"] <= N_TICKERS
    print(json.dumps(r5), flush=True)

    # the two sequence-dependent stateful ops (r12-hardened concat-then-
    # sort in-batch path): rvol carries (last_ts, last_log_price, Σr², n)
    # per key, zscore (n, Σx, Σx², n_alerts) — both lifetime one-row-per-key
    from ffn_polars_spark.streaming import (
        stateful_realized_volatility,
        stateful_zscore_alerts,
    )

    rvol = stateful_realized_volatility(
        make_stream(spark, rps).withColumn(
            "ts", F.col("value")
        ), "ticker", "ts", "price",
    )
    r7 = drive("stateful_realized_volatility", rvol, duration, output_mode="update")
    r7["state_bounded"] = r7["state_rows"] is not None and r7["state_rows"] <= N_TICKERS
    print(json.dumps(r7), flush=True)

    zs = stateful_zscore_alerts(
        make_stream(spark, rps).withColumn(
            "ts", F.col("value")
        ), "ticker", "ts", "price",
    )
    r8 = drive("stateful_zscore_alerts", zs, duration, output_mode="update")
    r8["state_bounded"] = r8["state_rows"] is not None and r8["state_rows"] <= N_TICKERS
    print(json.dumps(r8), flush=True)

    if not all(
        r["state_bounded"] for r in (r1, r2, r3, r4, r5, r6, r7, r8)
    ):
        sys.exit("FAIL: state-store growth exceeded the bounded-state contract")


if __name__ == "__main__":
    main()
