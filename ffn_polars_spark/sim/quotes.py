"""Distributed quote-tape simulator.

Behavioral parity: /root/reference/ffn_polars/sim/quotes.py:22-91 — evenly
spaced ns timestamps across the 09:30-16:00 session, volatility-burst price
walk, spread noise widened in bursts, Poisson lot sizes, SIP-weighted
exchange assignment, Polygon-style quote schema.

Spark-first design: the frame is declared over ``spark.range(n)`` so
generation parallelizes across executors; every random column is a
deterministic hash stream (sim/rand.py) so re-evaluation and repartitioning
can't skew it; the price walk's cumulative sum uses the un-keyed blocked
prefix sum (core.blocked_keyed_cumsum) instead of a global single-partition
window — at the reference's 500k ticks/day/ticker either works, at billions
of rows only this one does. Randomness parity with numpy is *statistical*
(moments/schema/row counts), per SURVEY.md §7.3-8.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ffn_polars_spark.core import blocked_keyed_cumsum
from ffn_polars_spark.sim.common import (
    EXCHANGE_IDS,
    EXCHANGE_WEIGHTS,
    assign_tape,
    get_trading_window_ns,
)
from ffn_polars_spark.sim.events import day_burst_windows, within_events


def simulate_quotes(
    spark: SparkSession,
    ticker: str,
    day_index: int = 0,
    ticks_per_day: int = 250_000,
    base_price: float = 276.0,
    avg_spread: float = 0.02,
    seed: int = 42,
    num_partitions: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """One trading day of NBBO-style quotes for ``ticker``.

    ``hash_fn="md5"`` switches every draw to the engine-portable hash
    stream (sim/rand.py) so an external engine can replay the session
    bit-for-bit — used by the correctness oracle."""
    import functools

    from ffn_polars_spark.sim import rand as _r

    normal = functools.partial(_r.normal, hash_fn=hash_fn)
    poisson = functools.partial(_r.poisson, hash_fn=hash_fn)
    randint = functools.partial(_r.randint, hash_fn=hash_fn)
    uniform = functools.partial(_r.uniform, hash_fn=hash_fn)
    weighted_choice = functools.partial(_r.weighted_choice, hash_fn=hash_fn)

    day_seed = seed + day_index
    start_ns, end_ns = get_trading_window_ns(day_index)
    n = ticks_per_day
    span = end_ns - start_ns

    rid = F.col("id")
    df = spark.range(0, n, 1, num_partitions) if num_partitions else spark.range(n)

    # Evenly spaced session timestamps (quotes.py:33-34's linspace).
    ts = (F.lit(start_ns) + F.floor(rid * F.lit(span / max(n - 1, 1)))).cast("long")
    df = df.withColumn("participant_timestamp", ts)

    bursts = day_burst_windows(start_ns, end_ns, day_index, seed)
    in_burst = within_events(F.col("participant_timestamp"), bursts)
    df = df.withColumn("__burst", in_burst)

    # Volatility-burst random walk: step ~ N(0, 0.03 burst / 0.01 calm),
    # mid = base + cumsum(step), rounded to cents (quotes.py:52-53).
    vol = F.when(F.col("__burst"), F.lit(0.03)).otherwise(F.lit(0.01))
    df = df.withColumn("__step", normal(rid, "px", day_seed, sd=vol))
    # one block per 2^20 ticks, from n alone: the float walk's summation
    # order (and so every bit of it) never depends on the cluster
    blocks = max(1, math.ceil(n / (1 << 20)))
    df = blocked_keyed_cumsum(df, [], ["id"], {"__walk": "__step"}, num_blocks=blocks)
    mid = F.round(F.col("__walk") + F.lit(base_price), 2)

    # Spread noise, 1.5x wider in bursts (quotes.py:56-59).
    spread = F.abs(normal(rid, "spread", day_seed, mean=avg_spread, sd=avg_spread / 3))
    spread = F.when(F.col("__burst"), spread * 1.5).otherwise(spread)

    # Poisson(2) lot sizes with zeros bumped to 1 (quotes.py:62-65).
    ask_size = F.greatest(poisson(rid, "asz", day_seed, 2.0), F.lit(1))
    bid_size = F.greatest(poisson(rid, "bsz", day_seed, 2.0), F.lit(1))

    ask_ex = weighted_choice(rid, "aex", day_seed, EXCHANGE_IDS, EXCHANGE_WEIGHTS)
    bid_ex = weighted_choice(rid, "bex", day_seed, EXCHANGE_IDS, EXCHANGE_WEIGHTS)

    # Quote conditions: mostly "19" else uniform 1..19; indicators mostly
    # empty else one of 4/12/13 (quotes.py:8-19).
    cond = F.when(
        uniform(rid, "cond", day_seed) < 0.8, F.lit("19")
    ).otherwise(randint(rid, "condv", day_seed, 1, 20).cast("string"))
    ind = F.when(uniform(rid, "ind", day_seed) < 0.9, F.lit("")).otherwise(
        weighted_choice(rid, "indv", day_seed, ["4", "12", "13"], [1 / 3, 1 / 3, 1 / 3])
    )

    return df.select(
        F.lit(ticker).alias("ticker"),
        ask_ex.cast("int").alias("ask_exchange"),
        F.round(mid + spread, 2).alias("ask_price"),
        ask_size.cast("long").alias("ask_size"),
        bid_ex.cast("int").alias("bid_exchange"),
        mid.alias("bid_price"),
        bid_size.cast("long").alias("bid_size"),
        cond.alias("conditions"),
        ind.alias("indicators"),
        F.col("participant_timestamp"),
        (F.lit(1_000) + rid).alias("sequence_number"),
        (F.col("participant_timestamp") + randint(rid, "sip", day_seed, 5_000, 50_000)).alias(
            "sip_timestamp"
        ),
        assign_tape(ask_ex, rid, "tape", day_seed).alias("tape"),
        (F.col("participant_timestamp") + randint(rid, "trf", day_seed, 10_000, 100_000)).alias(
            "trf_timestamp"
        ),
    )


def simulate_quotes_exact(
    spark: SparkSession,
    ticker: str,
    day_index: int = 0,
    ticks_per_day: int = 250_000,
    base_price: float = 276.0,
    avg_spread: float = 0.02,
    seed: int = 42,
) -> DataFrame:
    """Bit-exact numpy parity mode (SURVEY §7.3-8).

    Reproduces the reference generator's RNG stream exactly
    (/root/reference/ffn_polars/sim/quotes.py:22-91): one legacy
    ``np.random.seed(seed + day_index)`` stream consumed in the reference's
    draw order. A local ``RandomState`` with the same seed yields the same
    stream as the global API without mutating global RNG state. Subtlety
    worth pinning: the reference's event-window helper RE-seeds the global
    state with the same value (market_events.py:15), so the effective stream
    begins at the event draws — replicated here by drawing events first.

    Single-node by construction (the whole day materializes in numpy on the
    driver) — use :func:`simulate_quotes` (hash-stream, distributed) for
    scale; this mode exists for bit-for-bit cross-checks against the
    reference and for debugging distribution drift.
    """
    import numpy as np
    import pandas as pd

    rs = np.random.RandomState(seed + day_index)
    start_ns, end_ns = get_trading_window_ns(day_index)
    n = ticks_per_day
    ts = np.linspace(start_ns, end_ns, n).astype(np.int64)

    # Event windows first — their draws lead the stream (see docstring).
    half_hour = int(30 * 60 * 1e9)
    windows = [(start_ns, start_ns + half_hour), (end_ns - half_hour, end_ns)]
    span = end_ns - start_ns
    dur_range = int(25 * 60 * 1e9)  # 5..30 min news windows
    n_events = 0 if rs.rand() > 0.3 else rs.randint(1, 3)
    for _ in range(n_events):
        dur = int(5 * 60 * 1e9) + rs.randint(dur_range)
        t0 = start_ns + rs.randint(0, span - dur)
        windows.append((t0, t0 + dur))
    burst = np.zeros(n, dtype=bool)
    for w0, w1 in windows:
        burst |= (ts >= w0) & (ts < w1)

    mid = np.round(np.cumsum(rs.normal(0, np.where(burst, 0.03, 0.01))) + base_price, 2)
    half_spread = np.abs(rs.normal(avg_spread, avg_spread / 3, size=n))
    half_spread[burst] *= 1.5
    ask_sz, bid_sz = rs.poisson(2, n), rs.poisson(2, n)
    ask_sz[ask_sz == 0] = 1
    bid_sz[bid_sz == 0] = 1
    ask_ex = rs.choice(EXCHANGE_IDS, size=n, p=EXCHANGE_WEIGHTS)
    bid_ex = rs.choice(EXCHANGE_IDS, size=n, p=EXCHANGE_WEIGHTS)
    # TRF exchanges draw a random tape; listed venues are fixed (common.py:18-26)
    tape = np.fromiter(
        (rs.choice([1, 2, 3]) if e in (201, 202) else (1 if e in (10, 11, 1) else (3 if e in (12, 2) else 2))
         for e in ask_ex),
        dtype=np.int64,
        count=n,
    )
    conds = ["19" if rs.rand() < 0.8 else str(rs.choice(range(1, 20))) for _ in range(n)]
    inds = ["" if rs.rand() < 0.9 else str(rs.choice([4, 12, 13])) for _ in range(n)]

    pdf = pd.DataFrame(
        {
            "ticker": ticker,
            "ask_exchange": ask_ex.astype(np.int32),
            "ask_price": np.round(mid + half_spread, 2),
            "ask_size": ask_sz.astype(np.int64),
            "bid_exchange": bid_ex.astype(np.int32),
            "bid_price": mid,
            "bid_size": bid_sz.astype(np.int64),
            "conditions": conds,
            "indicators": inds,
            "participant_timestamp": ts,
            "sequence_number": np.arange(1_000, 1_000 + n, dtype=np.int64),
            "sip_timestamp": ts + rs.randint(5_000, 50_000, size=n),
            "tape": tape.astype(np.int32),
            "trf_timestamp": ts + rs.randint(10_000, 100_000, size=n),
        }
    )
    return spark.createDataFrame(pdf)
