"""The pin registry: every cache the library takes is taken by :func:`pin`
(or tracked by :func:`pin_checkpoint`) and freed by :func:`release_pins`.

Operators return lazy DataFrames, so they cannot unpersist their own pins;
the caller (the catalog, per query, or a :class:`pinned_scope` block)
releases them once results are materialized. Imports only pyspark at load
time, so every library module, ``core`` included, can use it.
"""

from __future__ import annotations

import re

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_ACTIVE_PINS: list = []


def release_pins() -> int:
    """Unpersist every frame pinned since the last release; returns the count.

    Call after materializing an operator's result (collect/write). Most
    pins recompute from lineage once released. Two kinds are **one-shot**:
    checkpoint-backed pins (:func:`pin_checkpoint`; pagerank and
    connected_components results) lost their lineage, so any later action
    raises; frames built on ``core.ranged_cumsum`` (ks_drift,
    wasserstein_distance, abc_analysis, zipf_slope, heaps_law, ...) keep
    offsets keyed by a sampled range partitioning, so a re-execution either
    reproduces the first result or raises — never different rows. Only
    release after every consumer has collected/written what it needs."""
    n = len(_ACTIVE_PINS)
    while _ACTIVE_PINS:
        _ACTIVE_PINS.pop().unpersist()
    return n


class pinned_scope:
    """``with pinned_scope(): run_and_materialize()`` — releases every frame
    pinned inside the block on exit (pins from before the block are kept).

    Materialize results *inside* the block: a one-shot frame that escapes
    the scope is unusable after ``__exit__`` frees its blocks (see
    :func:`release_pins`)."""

    def __enter__(self):
        self._mark = len(_ACTIVE_PINS)
        return self

    def __exit__(self, *exc):
        while len(_ACTIVE_PINS) > self._mark:
            _ACTIVE_PINS.pop().unpersist()
        return False


class _CheckpointPin:
    """Adapter so a ``localCheckpoint``-backed frame can ride
    ``_ACTIVE_PINS``: ``DataFrame.unpersist()`` is a CacheManager no-op for
    checkpointed frames — their data lives in a persisted RDD referenced by
    the plan's ``LogicalRDD`` node, which this releases directly.

    Releasing is **destructive**: localCheckpoint truncated the lineage, so
    after the blocks are freed the frame cannot be recomputed — a later
    action raises ``SparkException: Checkpoint block not found``. Treat the
    frame as one-shot across a :func:`release_pins` boundary."""

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self) -> None:
        release_checkpoint(self._df)


def release_checkpoint(df: DataFrame) -> None:
    """RDD-level unpersist of a localCheckpointed frame (see
    :class:`_CheckpointPin`). Safe on any frame — a plan without a
    LogicalRDD root is left untouched."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def pin_checkpoint(df: DataFrame) -> DataFrame:
    """Track a localCheckpointed frame for the next ``release_pins()``.

    The frame is one-shot: it is usable until the next ``release_pins()``
    and dead after (see :class:`_CheckpointPin`)."""
    _ACTIVE_PINS.append(_CheckpointPin(df))
    return df


def pin(df: DataFrame, est_bytes=None, eager: bool = True) -> DataFrame:
    """Persist a derived frame that several plan branches re-read
    (signatures, shingle arrays, small aggregates) and track it for
    :func:`release_pins`. MEMORY_AND_DISK keeps the 100 TB path safe
    (spills instead of OOM).

    ``est_bytes`` is the frame's size estimate; above ~30% of the executor
    heap the frame is returned unpinned. A cache bigger than the storage
    pool doesn't just evict — the COLUMNAR batch building during unroll
    GC-thrashes the heap (measured: the token-scale span pin at 5M docs
    killed an 8 GB heap even with longs-only columns). Past the cap,
    recomputing the derivation per consumer branch is strictly cheaper
    than fighting the memory manager. ``None`` (unknown or cardinality-
    bounded) pins.

    Materialized eagerly by default: a lazy persist lets the two sides of a
    downstream self-join race to fill the cache — both branches then run the
    full (Arrow-kernel) derivation concurrently, which measured bimodally
    between 1x and 6x the eager wall-clock. count() costs one extra pass over
    the already-small pinned frame and makes the plan deterministic.

    ``eager=False`` skips the count for a pin whose readers are all stages
    of the one query that consumes it (minhash's shingle arrays: the band
    hashes and both verify sides), or whose first reader is a job the
    caller runs anyway (ranged_cumsum's totals collect). Measured on the
    minhash pin, the kernel still runs once per document — a second reader
    of a partition waits on the cache block's write lock instead of
    recomputing it — so the count would only add a pass over the
    corpus-sized derivation."""
    if est_bytes is not None:
        if est_bytes > 0.3 * _executor_heap_bytes(df.sparkSession):
            return df
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if eager:
        df.count()
    _ACTIVE_PINS.append(df)
    return df


def _executor_heap_bytes(spark) -> int:
    """Executor heap this session's tasks actually run under: the
    spark.executor.memory conf when set (a real cluster), else the local
    JVM's max heap (local mode, where driver == executor), else 8 GiB when
    no JVM is reachable (Spark Connect).

    The conf string follows Spark's ``byteStringAsMb`` grammar: an INTEGER
    with an optional one-letter (k/m/g/t/p) or two-letter (kb/mb/gb/tb/pb)
    binary suffix, and a UNIT-LESS value means MiB (``"8192"`` is 8 GiB,
    not 8192 bytes). Fractional values are rejected exactly as Spark
    rejects them (fall through to the JVM heap, never a guess).
    Mis-parsing here fails toward over-estimating the heap, which lets
    :func:`pin` pin frames that GC-thrash real executors — the exact
    defect class the cap exists to prevent — so unparseable strings fall
    through to the local JVM heap rather than guessing."""
    mem = spark.conf.get("spark.executor.memory", None)
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]b?|b)?\s*", mem.lower()) if mem else None
    if m:
        shifts = {"b": 0, "k": 10, "m": 20, "g": 30, "t": 40, "p": 50}
        unit = m.group(2)
        # Spark reads a bare number as MiB (byteStringAsMb)
        return int(m.group(1)) << (shifts[unit[0]] if unit else 20)
    try:
        jvm = spark.sparkContext._jvm
    except AttributeError:  # Spark Connect: no client-side SparkContext
        return 8 << 30
    return int(jvm.java.lang.Runtime.getRuntime().maxMemory())


def _token_scale_est(df: DataFrame):
    """Size estimate for a token-scale derived frame (shingle rows, span
    hashes): ~3x the on-disk text bytes, the scrub_spans-measured ratio.
    None (→ pin) when the plan has no readable parquet footers."""
    from ffn_polars_spark.operators._scanmeta import scan_bytes

    b = scan_bytes(df)
    return 3 * b if b is not None else None
