"""Structured Streaming twins: bounded streams drained with availableNow must
reproduce the batch operators' results exactly."""

import os

import pytest
from pyspark.sql import functions as F
from tests.conftest import jobs_in_group

import ffn_polars_spark.streaming as streaming
from ffn_polars_spark.streaming import (
    read_tick_stream,
    run_available_now,
    stateful_cusum,
    stateful_realized_volatility,
    stateful_running_vwap,
    stateful_zscore_alerts,
    streaming_session_stats,
    streaming_time_bars,
    streaming_vwap,
)

SEC = 1_000_000_000


@pytest.fixture(scope="module")
def tick_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tickstream"))
    rows = []
    for i in range(600):
        ticker = "A" if i % 2 == 0 else "B"
        rows.append((ticker, i * SEC, 100.0 + (i % 7), float(1 + i % 3)))
    df = spark.createDataFrame(rows, ["ticker", "ts", "price", "volume"])
    df.repartition(4).write.mode("overwrite").parquet(d)
    return d


def test_streaming_time_bars_match_batch(spark, tick_dir):
    stream = read_tick_stream(spark, tick_dir, ts_col="ts")
    bars = streaming_time_bars(stream, "price", "volume", by=["ticker"], bar="1 minute")
    got = {
        (r["ticker"], r["bar_start"]): r
        for r in run_available_now(bars).collect()
    }
    # batch twin on the same data
    batch = (
        spark.read.parquet(tick_dir)
        .withColumn("event_time", F.timestamp_micros(F.expr("ts div 1000")))
        .groupBy(F.window("event_time", "1 minute").alias("bar"), "ticker")
        .agg(
            F.min(F.struct(F.col("event_time").alias("k"), F.col("price").alias("v")))
            .getField("v").alias("open"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.count(F.lit(1)).alias("n_ticks"),
            F.sum("volume").cast("double").alias("volume"),
        )
    )
    want = {(r["ticker"], r["bar"]["start"]): r for r in batch.collect()}
    assert set(got) == set(want)
    for k in want:
        for c in ["open", "high", "low", "n_ticks", "volume"]:
            assert got[k][c] == want[k][c], (k, c)


def test_streaming_vwap(spark, tick_dir):
    stream = read_tick_stream(spark, tick_dir, ts_col="ts")
    out = run_available_now(
        streaming_vwap(stream, "price", "volume", by=["ticker"], bar="10 minutes")
    )
    row = out.where(
        (F.col("ticker") == "A") & (F.col("bar_start") == F.lit("1970-01-01 00:00:00").cast("timestamp"))
    ).collect()
    assert len(row) == 1
    batch = (
        spark.read.parquet(tick_dir)
        .where((F.col("ticker") == "A") & (F.col("ts") < 600 * SEC))
        .agg((F.sum(F.col("price") * F.col("volume")) / F.sum("volume")).alias("v"))
        .collect()[0]["v"]
    )
    assert abs(row[0]["price_vwap"] - batch) < 1e-9


def test_streaming_session_stats(spark, tmp_path):
    d = str(tmp_path / "sess")
    rows = [
        ("u1", 0), ("u1", 60 * SEC), ("u1", 4000 * SEC),  # 2 sessions
        ("u2", 0),
    ]
    spark.createDataFrame(rows, ["user_id", "ts"]).write.parquet(d)
    stream = read_tick_stream(spark, d, ts_col="ts")
    out = run_available_now(
        streaming_session_stats(stream, "user_id", gap="30 minutes")
    ).collect()
    per_user = {}
    for r in out:
        per_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(per_user["u1"]) == [1, 2]
    assert per_user["u2"] == [1]


def test_stateful_running_vwap(spark, tick_dir):
    stream = read_tick_stream(spark, tick_dir, ts_col="ts")
    out = run_available_now(
        stateful_running_vwap(stream, "ticker", "price", "volume"),
        output_mode="update",
    )
    rows = {r["ticker"]: r for r in out.collect()}
    batch = {
        r["ticker"]: r
        for r in spark.read.parquet(tick_dir)
        .groupBy("ticker")
        .agg(
            F.sum("volume").cast("double").alias("v"),
            (F.sum(F.col("price") * F.col("volume")) / F.sum("volume")).alias("w"),
        )
        .collect()
    }
    for t in ("A", "B"):
        assert rows[t]["cum_volume"] == batch[t]["v"]
        assert abs(rows[t]["running_vwap"] - batch[t]["w"]) < 1e-9


def test_stateful_realized_volatility(spark, tick_dir):
    import math

    from ffn_polars_spark.streaming import stateful_realized_volatility

    stream = read_tick_stream(spark, tick_dir, ts_col="ts")
    out = run_available_now(
        stateful_realized_volatility(stream, "ticker", "ts", "price"),
        output_mode="update",
    )
    rows = {r["ticker"]: r for r in out.collect()}
    # batch twin per ticker
    import pandas as pd

    pdf = spark.read.parquet(tick_dir).toPandas().sort_values("ts")
    for t in ("A", "B"):
        ps = pdf[pdf["ticker"] == t]["price"].to_numpy()
        rets = [math.log(ps[i] / ps[i - 1]) for i in range(1, len(ps))]
        expect = math.sqrt(sum(r * r for r in rets))
        assert rows[t]["n_returns"] == len(rets)
        assert abs(rows[t]["realized_volatility"] - expect) < 1e-9


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Two files delivered in separate micro-batches: the second file's rows
    are older than (max event time - watermark delay) and its window was
    already finalized -> append-mode output excludes them."""
    import os

    import glob
    import time

    d = str(tmp_path / "late")
    os.makedirs(d)
    SECOND = 1_000_000_000

    def write_batch(rows, mtime):
        before = set(glob.glob(os.path.join(d, "*.parquet")))
        spark.createDataFrame(rows, ["ticker", "ts", "price"]).coalesce(
            1
        ).write.parquet(d, mode="append")
        for f in set(glob.glob(os.path.join(d, "*.parquet"))) - before:
            os.utime(f, (mtime, mtime))

    t0 = time.time() - 1000
    # batch 1: one hour of on-time ticks (watermark update lands at batch 2)
    write_batch([("A", i * 60 * SECOND, 1.0) for i in range(60)], t0)
    # batch 2: fresh row; watermark is now 54 min, so windows [0, 50) are
    # evicted+emitted at this batch's end
    write_batch([("A", 61 * 60 * SECOND, 1.0)], t0 + 100)
    # batch 3: a 59-min-late spike at 2 min event time — its window's state
    # is gone and it's older than the watermark -> dropped (Spark drops
    # too-late rows only once the window state is evicted, so same-batch
    # late rows would still aggregate; cross-batch ones must not)
    write_batch([("A", 2 * 60 * SECOND, 100.0)], t0 + 200)
    # batch 4: advance the watermark again to flush more finalized windows
    write_batch([("A", 70 * 60 * SECOND, 1.0)], t0 + 300)

    stream = read_tick_stream(spark, d, ts_col="ts", max_files_per_trigger=1)
    bars = streaming_time_bars(
        stream, "price", by=["ticker"], bar="10 minutes", delay_threshold="5 minutes"
    )
    out = run_available_now(bars, output_mode="append").collect()
    assert out, "expected finalized bars in append mode"
    # the late spike must appear nowhere, and the bar it targeted is intact
    assert all(r["high"] == 1.0 for r in out)
    first_bar = [r for r in out if r["bar_start"].minute == 0 and r["bar_start"].hour == 0]
    assert first_bar and first_bar[0]["n_ticks"] == 10


@pytest.fixture(scope="module")
def doc_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("docstream"))
    rows = []
    for i in range(200):
        # 50 distinct contents, each appearing 4x (with case/space variants)
        base = f"document number {i % 50} with some shared content"
        text = base.upper() if i % 4 == 1 else (f"  {base} " if i % 4 == 2 else base)
        rows.append((i, i * SEC, text))
    df = spark.createDataFrame(rows, ["doc_id", "ts", "text"])
    df.repartition(4).write.mode("overwrite").parquet(d)
    return d


def test_streaming_dedup_exact(spark, doc_dir):
    from ffn_polars_spark.streaming import streaming_dedup_exact

    stream = read_tick_stream(spark, doc_dir, ts_col="ts")
    out = run_available_now(
        streaming_dedup_exact(stream, delay_threshold="1 hour"),
        output_mode="append",
    ).collect()
    # one survivor per distinct normalized content
    assert len(out) == 50
    assert len({r["fingerprint"] for r in out}) == 50
    # batch twin agrees on the fingerprint set
    from ffn_polars_spark.operators.dedup import dedup_exact

    batch_fps = {
        r["fingerprint"]
        for r in dedup_exact(spark.read.parquet(doc_dir)).collect()
    }
    assert {r["fingerprint"] for r in out} == batch_fps


def test_stateful_rvol_chains_across_microbatches(spark, tmp_path_factory):
    """The stateful operator's raison d'etre: state must CHAIN across
    micro-batches (the first return of batch N uses the last observation of
    batch N-1). Four time-ordered files drained one per trigger produce four
    updates per key; the final one must equal the single-pass computation
    with no seam at any batch boundary."""
    import math

    from ffn_polars_spark.streaming import stateful_realized_volatility

    d = str(tmp_path_factory.mktemp("chained"))
    all_rows = []
    for i in range(200):
        ticker = "A" if i % 2 == 0 else "B"
        all_rows.append((ticker, i * SEC, 100.0 + (i % 7)))
    # four time-contiguous files, written in order (file source processes
    # oldest first), so per-key event order spans batch boundaries
    for q in range(4):
        chunk = all_rows[q * 50 : (q + 1) * 50]
        spark.createDataFrame(chunk, ["ticker", "ts", "price"]).coalesce(
            1
        ).write.mode("append").parquet(d)

    stream = read_tick_stream(spark, d, ts_col="ts", max_files_per_trigger=1)
    out = run_available_now(
        stateful_realized_volatility(stream, "ticker", "ts", "price"),
        output_mode="update",
    ).collect()

    per_key = {}
    for r in out:
        per_key.setdefault(r["ticker"], []).append(r)
    for t in ("A", "B"):
        updates = sorted(per_key[t], key=lambda r: r["n_returns"])
        assert len(updates) >= 2, "expected one update per micro-batch"
        final = updates[-1]
        ps = [p for (tk, _, p) in all_rows if tk == t]
        rets = [math.log(ps[i] / ps[i - 1]) for i in range(1, len(ps))]
        assert final["n_returns"] == len(rets)
        assert abs(final["realized_volatility"] - math.sqrt(sum(r * r for r in rets))) < 1e-9


@pytest.mark.parametrize(
    "op, count_col",
    [
        (
            lambda s: stateful_running_vwap(
                s, "ticker", "price", "volume", idle_timeout_ms=1_500
            ),
            "cum_volume",
        ),
        (
            lambda s: stateful_cusum(
                s, "ticker", "ts", "price", target=100.0, threshold=50.0,
                idle_timeout_ms=1_500,
            ),
            "n_events",
        ),
    ],
    ids=["running_vwap", "cusum"],
)
def test_stateful_idle_timeout_evicts_state(spark, tmp_path, op, count_col):
    """With idle_timeout_ms set, a key idle past the TTL is evicted
    (ProcessingTimeTimeout) and restarts from ZERO on its next event —
    the bounded-working-set contract for open-ended key domains, checked
    on an order-free and on a sequential fold. Every row has volume 1, so
    both count columns read the rows folded so far: the second file's
    update must show only its own 3 rows, not the lifetime 5."""
    import time
    import uuid as _uuid

    d = str(tmp_path / "ttl")
    os.makedirs(d)

    def write_file(rows):
        spark.createDataFrame(rows, ["ticker", "ts", "price", "volume"]).coalesce(
            1
        ).write.mode("append").parquet(d)

    # file 1: 2 rows of A
    write_file([("A", i * SEC, 100.0, 1.0) for i in range(2)])

    stream = read_tick_stream(spark, d, ts_col="ts")
    out = op(stream)
    name = "ttl" + _uuid.uuid4().hex[:8]
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(processingTime="300 milliseconds")
        .start()
    )

    def counts():
        return {
            r[count_col] for r in spark.table(name).collect() if r["ticker"] == "A"
        }

    try:
        deadline = time.time() + 20
        # wait for file 1's update (2 rows) to land
        while time.time() < deadline and 2 not in counts():
            time.sleep(0.2)
        # idle well past the 1.5 s TTL: ProcessingTimeTimeout runs a batch
        # every trigger even without data, firing the eviction
        time.sleep(4.0)
        # file 2: 3 rows of A — must restart from zero
        write_file([("A", (100 + i) * SEC, 100.0, 1.0) for i in range(3)])
        while time.time() < deadline and 3 not in counts():
            time.sleep(0.2)
    finally:
        q.stop()

    seen = counts()
    assert 2 in seen, f"file-1 update missing: {seen}"
    assert 3 in seen, f"state was not evicted (no reset update): {seen}"
    assert 5 not in seen, f"state survived the idle TTL: {seen}"


def _replay_rvol(rows):
    import math

    lps = [math.log(p) for _, p in rows]
    sum_sq = 0.0
    for i in range(1, len(lps)):
        r = lps[i] - lps[i - 1]
        sum_sq += r * r
    n = len(lps) - 1
    return n, math.sqrt(sum_sq) if n else None


def _replay_zscore(rows, threshold=1.5, min_obs=3):
    import math

    n, sum_x, sum_sq, n_alerts = 0, 0.0, 0.0, 0
    for _, x in rows:
        if n >= min_obs:
            m = sum_x / n
            var = (sum_sq - sum_x * sum_x / n) / (n - 1)
            if var > 0 and abs(x - m) > threshold * math.sqrt(var):
                n_alerts += 1
        n, sum_x, sum_sq = n + 1, sum_x + x, sum_sq + x * x
    return n, n_alerts


def _replay_cusum(rows, target=100.0, threshold=6.0):
    sp = sn = 0.0
    n_alarms = 0
    for _, x in rows:
        e = x - target
        sp, sn = max(0.0, sp + e), max(0.0, sn - e)
        if sp > threshold or sn > threshold:
            n_alarms += 1
            sp, sn = 0.0, 0.0
    return len(rows), n_alarms, sp, sn


@pytest.mark.parametrize(
    "op, cols, replay",
    [
        (
            lambda s: stateful_realized_volatility(s, "ticker", "ts", "price"),
            ("n_returns", "realized_volatility"),
            _replay_rvol,
        ),
        (
            lambda s: stateful_zscore_alerts(
                s, "ticker", "ts", "price", threshold=1.5, min_obs=3
            ),
            ("n_events", "n_alerts"),
            _replay_zscore,
        ),
        (
            lambda s: stateful_cusum(
                s, "ticker", "ts", "price", target=100.0, threshold=6.0
            ),
            ("n_events", "n_alarms", "cusum_pos", "cusum_neg"),
            _replay_cusum,
        ),
    ],
    ids=["realized_volatility", "zscore_alerts", "cusum"],
)
def test_sequential_fold_orders_rows_across_arrow_chunks(
    spark, tmp_path, op, cols, replay
):
    """A sequential stateful fold sees a key's rows in event-time order even
    when one micro-batch hands them over as several Arrow chunks in the
    wrong order: a one-file tape written newest-first, drained in one batch
    at 3 rows per Arrow chunk, must match a sequential replay. Sorting each
    chunk on its own would fold the chunks newest-first."""
    import numpy as np

    rng = np.random.RandomState(13)
    rows = []
    for key, shift in (("A", 8.0), ("B", -8.0)):
        x = 100.0 + np.round(rng.normal(0.0, 2.0, 20), 2)
        x[10:] += shift  # a level shift halfway: order-dependent alarms
        rows += [(key, i * SEC, float(v)) for i, v in enumerate(x)]
    d = str(tmp_path / "reversed")
    spark.createDataFrame(rows[::-1], ["ticker", "ts", "price"]).coalesce(
        1
    ).write.parquet(d)

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        out = run_available_now(
            op(read_tick_stream(spark, d, ts_col="ts")), output_mode="update"
        ).collect()
    finally:
        spark.conf.set(conf, old)

    got = {r["ticker"]: tuple(r[c] for c in cols) for r in out}
    want = {
        k: replay(sorted((t, p) for kk, t, p in rows if kk == k))
        for k in ("A", "B")
    }
    assert got == want


def test_streaming_histogram_matches_batch(spark, tick_dir):
    from ffn_polars_spark.streaming import streaming_histogram

    stream = read_tick_stream(spark, tick_dir, ts_col="ts")
    out = run_available_now(
        streaming_histogram(
            stream, "price", lo=100.0, hi=107.0, nbins=7,
            by=["ticker"], bar="10 minutes",
        )
    )
    # first 10-minute window, ticker A: prices 100..106 cycle; recompute
    # the same histogram in batch
    got = {
        (r.bin, r.n)
        for r in out.where(
            (F.col("ticker") == "A")
            & (F.col("bar_start") == F.lit("1970-01-01 00:00:00").cast("timestamp"))
        ).collect()
    }
    batch = (
        spark.read.parquet(tick_dir)
        .where((F.col("ticker") == "A") & (F.col("ts") < 600 * SEC))
        .select(F.floor(F.col("price") - 100.0).cast("int").alias("bin"))
        .groupBy("bin")
        .count()
        .collect()
    )
    assert got == {(r.bin, r["count"]) for r in batch}
    # bin_lo is derived from bin, and totals are preserved
    assert out.where(F.col("bin_lo") != 100.0 + F.col("bin") * 1.0).count() == 0


def test_streaming_interval_join_matches_batch(spark, tick_dir):
    from ffn_polars_spark.streaming import streaming_interval_join

    # left = ticker-A ticks, right = ticker-B ticks within the preceding
    # 30 seconds; compare the drained stream-stream join to the batch join
    left = (
        read_tick_stream(spark, tick_dir, ts_col="ts")
        .where(F.col("ticker") == "A")
        .select(F.col("ts").alias("a_ts"), F.col("event_time").alias("a_time"),
                F.lit(1).alias("k"))
    )
    right = (
        read_tick_stream(spark, tick_dir, ts_col="ts")
        .where(F.col("ticker") == "B")
        .select(F.col("ts").alias("b_ts"), F.col("event_time").alias("b_time"),
                F.lit(1).alias("k2"))
    )
    out = run_available_now(
        streaming_interval_join(
            left, right, "k", "k2", "a_time", "b_time", lookback="30 seconds"
        ),
        output_mode="append",
    )
    got = {(r.a_ts, r.b_ts) for r in out.collect()}

    batch = spark.read.parquet(tick_dir)
    a = batch.where(F.col("ticker") == "A").select(F.col("ts").alias("a_ts"))
    b = batch.where(F.col("ticker") == "B").select(F.col("ts").alias("b_ts"))
    want = {
        (r.a_ts, r.b_ts)
        for r in a.join(
            b,
            (F.col("b_ts") >= F.col("a_ts") - 30 * SEC)
            & (F.col("b_ts") <= F.col("a_ts")),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_topk_matches_batch_and_is_deterministic(spark, tick_dir):
    from ffn_polars_spark.streaming import streaming_topk

    stream = read_tick_stream(spark, tick_dir, ts_col="ts")
    out = run_available_now(
        streaming_topk(stream, ["ticker"], k=2), output_mode="complete"
    )
    got = [(r.ticker, r.n) for r in out.collect()]
    batch = (
        spark.read.parquet(tick_dir)
        .groupBy("ticker")
        .count()
        .orderBy(F.desc("count"), F.asc("ticker"))
        .limit(2)
        .collect()
    )
    assert got == [(r.ticker, r["count"]) for r in batch]
    # 600 rows split evenly: equal counts, tie broken by ticker name
    assert got == [("A", 300), ("B", 300)]


def test_stateful_zscore_alerts_chains_across_batches(spark, tmp_path_factory):
    """The alert decision depends on the PRIOR cumulative distribution, so
    splitting the same tape across micro-batches must not change the final
    (n_events, n_alerts) — the carried (n, Σx, Σx²) state chains exactly."""
    import numpy as np

    from ffn_polars_spark.streaming import stateful_zscore_alerts

    rng = np.random.RandomState(8)
    d = str(tmp_path_factory.mktemp("zchain"))
    vals = rng.normal(100.0, 5.0, 200)
    vals[60] = 160.0  # guaranteed outliers after warm-up
    vals[150] = 40.0
    all_rows = [("A", i * SEC, float(v)) for i, v in enumerate(vals)]
    for q in range(4):
        chunk = all_rows[q * 50 : (q + 1) * 50]
        spark.createDataFrame(chunk, ["ticker", "ts", "price"]).coalesce(
            1
        ).write.mode("append").parquet(d)

    stream = read_tick_stream(spark, d, ts_col="ts", max_files_per_trigger=1)
    out = run_available_now(
        stateful_zscore_alerts(
            stream, "ticker", "ts", "price", threshold=3.0, min_obs=30
        ),
        output_mode="update",
    ).collect()
    updates = sorted(out, key=lambda r: r["n_events"])
    assert len(updates) >= 2
    final = updates[-1]

    # numpy replay of the prior-distribution scoring
    n_alerts = 0
    for i in range(len(vals)):
        prior = vals[:i]
        if len(prior) >= 30:
            m, sd = prior.mean(), prior.std(ddof=1)
            if sd > 0 and abs(vals[i] - m) > 3.0 * sd:
                n_alerts += 1
    assert final["n_events"] == 200
    assert final["n_alerts"] == n_alerts
    assert n_alerts >= 2  # the two injected outliers fired


def test_stateful_kmv_distinct_batch_invariant(spark, tmp_path_factory):
    """Min-k of a hash set is commutative and duplicate-blind: splitting
    the tape into micro-batches (including duplicate user ids across
    batches) must leave the final sketch identical to the batch one."""
    from ffn_polars_spark.operators.sketch import kmv_distinct
    from ffn_polars_spark.sim.rand import uniform
    from ffn_polars_spark.streaming import stateful_kmv_distinct

    d = str(tmp_path_factory.mktemp("kmvchain"))
    # 300 events over 120 distinct users, duplicates straddling batches
    all_rows = [("A", i * SEC, (i * 7) % 120) for i in range(300)]
    for q in range(3):
        chunk = all_rows[q * 100 : (q + 1) * 100]
        spark.createDataFrame(chunk, ["ticker", "ts", "uid"]).coalesce(
            1
        ).write.mode("append").parquet(d)

    stream = read_tick_stream(spark, d, ts_col="ts", max_files_per_trigger=1).withColumn(
        "__h", uniform(F.col("uid"), "skmv", 0, hash_fn="md5")
    )
    out = run_available_now(
        stateful_kmv_distinct(stream, "ticker", "__h", k=64),
        output_mode="update",
    ).collect()
    final = sorted(out, key=lambda r: r["n_events"])[-1]
    assert final["n_events"] == 300
    assert final["n_seen"] == 64  # 120 distinct > k

    batch = spark.createDataFrame(all_rows, ["ticker", "ts", "uid"])
    ref = kmv_distinct(
        batch, "uid", group_by=["ticker"], k=64, tag="skmv"
    ).collect()[0]
    assert final["kmv_estimate"] == ref["kmv_estimate"]


def test_stateful_kmv_distinct_exact_below_k(spark, tmp_path_factory):
    from ffn_polars_spark.sim.rand import uniform
    from ffn_polars_spark.streaming import stateful_kmv_distinct

    d = str(tmp_path_factory.mktemp("kmvsmall"))
    rows = [("A", i * SEC, i % 10) for i in range(40)]
    spark.createDataFrame(rows, ["ticker", "ts", "uid"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    stream = read_tick_stream(spark, d, ts_col="ts").withColumn(
        "__h", uniform(F.col("uid"), "skmv", 0, hash_fn="md5")
    )
    out = run_available_now(
        stateful_kmv_distinct(stream, "ticker", "__h", k=64),
        output_mode="update",
    ).collect()
    final = sorted(out, key=lambda r: r["n_events"])[-1]
    # below k the sketch is an exact distinct count
    assert final["n_seen"] == 10 and final["kmv_estimate"] == 10.0


def test_streaming_preagg_interval_join_matches_batch(spark, tick_dir):
    """Windowed-agg -> stream-stream interval join (chained stateful
    operators): the drained bar join must equal the batch twin computed
    with the same window aggregates + interval condition."""
    from ffn_polars_spark.streaming import streaming_preagg_interval_join

    left = (
        read_tick_stream(spark, tick_dir, ts_col="ts")
        .where(F.col("ticker") == "A")
        .select(F.lit(1).alias("k"), "event_time", "price", "volume")
    )
    right = (
        read_tick_stream(spark, tick_dir, ts_col="ts")
        .where(F.col("ticker") == "B")
        .select(F.lit(1).alias("k2"), "event_time", "price", "volume")
    )
    out = run_available_now(
        streaming_preagg_interval_join(
            left,
            right,
            "k",
            "k2",
            left_aggs={"l_vol": F.sum("volume"), "l_hi": F.max("price")},
            right_aggs={"r_vol": F.sum("volume"), "r_lo": F.min("price")},
            bar="1 minute",
            lookback="2 minutes",
        ),
        output_mode="append",
    )
    got = {
        (r.k, r.l_bar_start, r.r_bar_start): (r.l_vol, r.l_hi, r.r_vol, r.r_lo)
        for r in out.collect()
    }

    batch = spark.read.parquet(tick_dir).withColumn(
        "event_time", F.timestamp_micros(F.expr("ts div 1000"))
    )

    def bars(tick, key, prefix):
        return (
            batch.where(F.col("ticker") == tick)
            .groupBy(F.window("event_time", "1 minute").alias("w"), F.lit(1).alias(key))
            .agg(
                F.sum("volume").alias(f"{prefix}_vol"),
                (F.max if prefix == "l" else F.min)("price").alias(
                    f"{prefix}_hi" if prefix == "l" else f"{prefix}_lo"
                ),
            )
            .select(
                key,
                F.col("w.start").alias(f"{prefix}_bar_start"),
                F.col("w.end").alias(f"{prefix}_bar_end"),
                f"{prefix}_vol",
                f"{prefix}_hi" if prefix == "l" else f"{prefix}_lo",
            )
        )

    # append-mode finalization contract: a bar emits once the watermark
    # (max event time - delay_threshold, 1 minute default) passes its END —
    # the last bars of a bounded drain stay open and are withheld, exactly
    # as they would be on a live stream. The batch twin applies the cutoff.
    cutoff = batch.agg(
        (F.max("event_time") - F.expr("INTERVAL 1 minute")).alias("c")
    ).collect()[0]["c"]
    lb, rb = bars("A", "k", "l"), bars("B", "k2", "r")
    want = {
        (r.k, r.l_bar_start, r.r_bar_start): (r.l_vol, r.l_hi, r.r_vol, r.r_lo)
        for r in lb.join(
            rb,
            (F.col("k") == F.col("k2"))
            & (F.col("r_bar_end") >= F.col("l_bar_end") - F.expr("INTERVAL 2 minutes"))
            & (F.col("r_bar_end") <= F.col("l_bar_end")),
        )
        .where((F.col("l_bar_end") <= F.lit(cutoff)) & (F.col("r_bar_end") <= F.lit(cutoff)))
        .collect()
    }
    assert got == want and len(got) > 5


def test_streaming_preagg_interval_join_same_key_name(spark, tick_dir):
    """left_on == right_on (the natural call — 'ticker' on both streams)
    must work: the internal __lk/__rk aliases prevent the
    AMBIGUOUS_REFERENCE a raw same-name equality condition raises."""
    from ffn_polars_spark.streaming import streaming_preagg_interval_join

    left = read_tick_stream(spark, tick_dir, ts_col="ts").select(
        "ticker", "event_time", "volume"
    )
    right = read_tick_stream(spark, tick_dir, ts_col="ts").select(
        "ticker", "event_time", "price"
    )
    out = run_available_now(
        streaming_preagg_interval_join(
            left,
            right,
            "ticker",
            "ticker",
            left_aggs={"l_vol": F.sum("volume")},
            right_aggs={"r_hi": F.max("price")},
            bar="1 minute",
            lookback="2 minutes",
        ),
        output_mode="append",
    ).collect()
    assert len(out) > 5
    assert {r.ticker for r in out} <= {"A", "B", "C"}
    # contemporaneous bar joins itself: every left bar has a same-start match
    assert any(r.l_bar_start == r.r_bar_start for r in out)


def test_read_tick_stream_one_file_dir_skips_inference(spark, tmp_path):
    """A one-file directory (the catalog's stream stage shape) takes its
    schema from the parquet footer: the batch reader's schema, no job."""
    d = str(tmp_path / "one")
    spark.createDataFrame(
        [("A", i * SEC, 100.0 + i, 1.0) for i in range(10)],
        ["ticker", "ts", "price", "volume"],
    ).coalesce(1).write.parquet(d)
    streams = []
    assert jobs_in_group(
        spark, lambda: streams.append(read_tick_stream(spark, d, ts_col="ts"))
    ) == 0
    assert streams[0].drop("event_time").schema == spark.read.parquet(d).schema


def test_run_available_now_drops_its_sink_view(spark, tick_dir):
    """Each drain's memory sink registers a temp view; the harness drops it
    once the returned frame is resolved, so 50 drains leave the session's
    temp-view count where it was, and every returned frame (and a frame
    derived from it) still reads its rows."""
    def temp_views():
        return sum(t.isTemporary for t in spark.catalog.listTables())

    before = temp_views()
    stream = read_tick_stream(spark, tick_dir, ts_col="ts")
    counts = stream.groupBy("ticker").count()
    frames = [run_available_now(counts) for _ in range(50)]
    assert temp_views() == before
    for f in frames:
        assert sorted((r.ticker, r["count"]) for r in f.collect()) == [
            ("A", 300),
            ("B", 300),
        ]
    assert frames[0].where(F.col("ticker") == "A").count() == 1


def test_all_names_every_public_function():
    """``streaming.__all__`` is exactly the module's public functions."""
    import inspect

    public = {
        name
        for name, fn in inspect.getmembers(streaming, inspect.isfunction)
        if fn.__module__ == streaming.__name__ and not name.startswith("_")
    }
    assert set(streaming.__all__) == public
    assert len(streaming.__all__) == len(public)
