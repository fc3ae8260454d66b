"""Driver-side parquet scan metadata: row counts, row groups, effective
parallelism — no Spark jobs.

Two scale problems share one root: deciding anything from a DataFrame's
*byte-split* count. Spark splits a file scan into ``max(defaultParallelism,
size/maxPartitionBytes)`` byte ranges, but a parquet ROW GROUP is the atomic
read unit — every row group is read entirely by the one task whose range
contains its midpoint. A 124 MB file written as a single row group (the
pyarrow/pandas default up to 64M rows) therefore reports ~30 scan partitions
while ONE task reads every row: any CPU-heavy projection chained on that scan
runs single-threaded no matter how many cores the cluster has, and a
"partitions are plentiful, skip the spread" heuristic is exactly wrong.
Measured on dedup_minhash_lsh at 500k docs: 29 tasks at 0.7 s, one at 61 s.

These helpers answer, from file footers (driver-side metadata only, no jobs):

- :func:`bare_scan_row_count` — exact row count of a bare scan, or an upper
  bound across Filter/Limit with ``allow_reducing`` (the ANN scale guards).
- :func:`scan_row_groups` — total row groups across the scan's files: the
  TRUE upper bound on scan-stage parallelism.
- :func:`spread_scan` — the one spread guard: repartition when min(split
  count, row groups) is below half the cluster's slots.

Everything returns None when uncertain (non-parquet, remote files, a plan
node the walk doesn't know) — callers fall back to their job-based paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ffn_polars_spark.core import _default_block_count, _order_code

# Row-count-preserving logical nodes: a plan made only of these above a
# parquet relation has exactly the relation's row count, so the count can be
# answered from parquet footers with no Spark job at all.
_COUNT_PRESERVING = {
    "Project",
    "SubqueryAlias",
    "Sort",
    "Repartition",
    "RepartitionByExpression",
}

# Count-REDUCING nodes: rows out <= rows in, so footer totals remain a valid
# UPPER bound below them (used by the pair-budget guards to prove a budget
# passes without any job; never to raise, which would need a lower bound).
_COUNT_REDUCING = {
    "Filter",
    "GlobalLimit",
    "LocalLimit",
    "Sample",
    "Deduplicate",
}

# Exchange-INTRODUCING nodes: row counts pass through them unchanged (they
# stay in _COUNT_PRESERVING/_COUNT_REDUCING for the row-count helpers), but
# they repartition the data, so scan row groups no longer bound the frame's
# parallelism below them. The parallelism helpers stop (return None) here.
_EXCHANGE_NODES = {
    "Sort",
    "Repartition",
    "RepartitionByExpression",
    "Deduplicate",
}

# Footer reading is a driver-side open per file: past this many files the
# caller's job-based fallback is the cheaper path.
_FOOTER_FILE_CAP = 64


def _scan_files(
    df: DataFrame,
    allow_reducing: bool = False,
    stop_at_exchange: bool = False,
):
    """``(files, cap)``: the local parquet files under ``df``'s plan and the
    smallest partition count a coalesce on the walk leaves (None when the
    walk meets no coalesce), or None.

    Walks the ANALYZED plan (already computed eagerly by PySpark on schema
    access; optimizedPlan() runs the full rule stack — measured 0.4 s per
    fresh DataFrame, more than the jobs these helpers replace) through
    count-preserving (and, optionally, count-reducing) shells down to a
    LogicalRelation, then lists its files. None whenever anything is
    uncertain: non-parquet or remote files, an unknown node, too many files.

    ``stop_at_exchange`` (the parallelism helpers): Repartition*/Sort/
    Deduplicate preserve row counts but re-distribute rows, so below them
    scan row groups no longer bound the frame's parallelism — a user who
    already repartitioned over a single-row-group file has REAL parallelism
    equal to the shuffle partition count, and treating the node as
    transparent would make spread_scan add a redundant second shuffle.
    A coalesce (a ``Repartition`` without shuffle, as ``read_table`` puts
    on tiny tables) moves no rows between partitions: the walk goes through
    it and reports its partition count as ``cap``.
    """
    try:
        allowed = (
            _COUNT_PRESERVING | _COUNT_REDUCING
            if allow_reducing
            else _COUNT_PRESERVING
        )
        cap = None
        node = df._jdf.queryExecution().analyzed()
        while (kind := node.getClass().getSimpleName()) in allowed:
            if kind == "Repartition" and not node.shuffle():
                n = node.numPartitions()
                cap = n if cap is None else min(cap, n)
            elif stop_at_exchange and kind in _EXCHANGE_NODES:
                return None
            children = node.children()
            if children.size() != 1:
                return None
            node = children.head()
        if node.getClass().getSimpleName() != "LogicalRelation":
            return None
        files = df.inputFiles()
        if not files or len(files) > _FOOTER_FILE_CAP:
            return None
        if not all(
            f.startswith("file:") and f.endswith(".parquet") for f in files
        ):
            return None
        from urllib.parse import unquote, urlparse

        return [unquote(urlparse(f).path) for f in files], cap
    except Exception:
        return None


def bare_scan_row_count(df: DataFrame, allow_reducing: bool = False):
    """Exact row count from parquet footers when ``df`` is a bare file scan;
    with ``allow_reducing=True`` an UPPER bound across Filter/Limit/Sample
    (sufficient to prove a pair budget passes, never to fail it). None when
    the plan shape or file layout makes footers unusable."""
    scan = _scan_files(df, allow_reducing)
    if scan is None:
        return None
    try:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in scan[0])
    except Exception:
        return None


def scan_row_groups(df: DataFrame):
    """Total parquet row groups across a (possibly filtered) scan's files —
    the true ceiling on scan-stage parallelism — or None when unknown.
    Returns None below any exchange-introducing node (Repartition*/Sort/
    Deduplicate): after a shuffle the row-group bound no longer applies.
    A coalesce above the scan caps the answer at its partition count."""
    scan = _scan_files(df, allow_reducing=True, stop_at_exchange=True)
    if scan is None:
        return None
    files, cap = scan
    try:
        import pyarrow.parquet as pq

        rg = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    except Exception:
        return None
    return rg if cap is None else min(rg, cap)


def scan_bytes(df: DataFrame):
    """Total on-disk bytes of a (possibly filtered) scan's parquet files —
    an UPPER bound on what the scan reads — or None when unknown. Used to
    size derived-frame estimates (pin-or-recompute decisions)."""
    scan = _scan_files(df, allow_reducing=True)
    if scan is None:
        return None
    try:
        import os

        return sum(os.path.getsize(f) for f in scan[0])
    except Exception:
        return None


def spread_scan(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition when the scan's EFFECTIVE parallelism — min(byte splits,
    parquet row groups) — is below half the cluster's slots: the guard every
    CPU-heavy per-row projection (shingle/minhash building, tokenize-and-score
    text pipelines, vector math) puts between itself and the raw scan. By
    ``key`` when given, round-robin when ``key`` is None.

    At real scale, inputs written with sane row-group sizes make this a
    no-op (condition false, no shuffle). Single-row-group files — the
    pyarrow/pandas writer default — would otherwise serialize the whole
    projection onto one core regardless of cluster size; one shuffle of the
    input is strictly cheaper than a parallelism-1 pipeline. A one-slot
    cluster passes through: a shuffle there adds no parallelism.

    Streaming frames pass through untouched: ``df.rdd`` raises on a
    streaming plan, the footer walk cannot see a streaming source, and the
    ~20 pure-projection text operators that call this must stay
    streaming-composable."""
    if df.isStreaming:
        return df
    try:
        sc = df.sparkSession.sparkContext
    except AttributeError:
        # Spark Connect: neither df.rdd nor the footer walk (df._jdf) is
        # reachable from the client, so the under-parallelized-scan
        # condition cannot be detected — pass through rather than add an
        # unconditional shuffle (tests/test_connect.py smokes this path).
        return df
    target = sc.defaultParallelism
    if target < 2:
        return df
    threshold = max(2, target // 2)
    # footer short-circuit: when row groups alone already bound parallelism
    # below the threshold, skip df.rdd.getNumPartitions() entirely (it
    # converts the plan to an RDD — the most expensive driver-side step
    # here, and its answer cannot raise a row-group-bounded minimum)
    rg = scan_row_groups(df)
    if rg is None or rg >= threshold:
        parts = df.rdd.getNumPartitions()
        if (min(parts, rg) if rg else parts) >= threshold:
            return df
    return df.repartition(target) if key is None else df.repartition(target, key)


def sampled_key_cardinality(df: DataFrame, keys, sample_rows: int = 100_000):
    """Bounded estimate of a key set's cardinality: distinct keys within the
    first ``sample_rows`` rows (one limit-bounded job — the limit is pushed
    into the scan, so at most ~sample_rows rows of the key columns are
    read). Used by sequence operators to decide whether a per-key window
    would hit the key-count parallelism floor. UNDER-estimates on
    key-clustered files — callers must degrade gracefully (extra shuffle,
    never a failure) when the estimate is wrong. None when unanswerable
    (streaming input)."""
    if df.isStreaming:
        return None
    try:
        return df.select(*keys).limit(int(sample_rows)).distinct().count()
    except Exception:
        return None


def use_blocked_sequence_plan(
    df: DataFrame,
    keys,
    order: str,
    seq_parallelism: str = "auto",
    rows_per_key: int = 50_000_000,
    rows_hint=None,
):
    """Shared policy for the per-key sequence operators (realized
    volatility, autocorrelation, threshold bars): route the sequence op
    through the blocked primitives (core.blocked_keyed_lag /
    blocked_keyed_cumsum) only past the MEASURED crossover — a sampled key
    cardinality below the cluster's slot count AND a footer row count of
    >= ``rows_per_key`` rows per key (sf100 tape, local[32], hot cache:
    the plain window wins until ~20M rows/key and loses 7x at 100M
    rows/key). ``seq_parallelism`` is the operator's knob: "auto" applies
    the policy, "blocked"/"window" force a plan.

    ``order`` is the first order column. The blocked primitives slice
    each key's sequence by its value, which needs an exact integer
    encoding (``core._order_code``: integer, timestamp, date). Past the
    row-count gate, "auto" keeps the window plan for any other type
    (double, string, timestamp_ntz); "blocked" raises ValueError naming
    the type.

    ``rows_hint``: caller-supplied total row count, used ONLY when the
    frame is not a bare parquet scan (footer counts return None there —
    joins, caches, in-memory frames). Parquet footers win when available
    (they are measured truth; a stale hint on a bare scan is ignored).
    Without either, non-parquet frames keep the window plan — the safe
    direction, but a 100M-rows/key derived frame then needs this hint or
    ``seq_parallelism="blocked"`` to escape the key-parallelism floor."""
    if not keys:
        return False
    if seq_parallelism == "blocked":
        if df.isStreaming:
            raise ValueError(
                "seq_parallelism='blocked' is batch-only: the blocked plan "
                "needs a min/max bounds job, which a streaming DataFrame "
                "does not support. Use seq_parallelism='window' (or "
                "'auto') for streaming frames."
            )
        if _order_code(df, order) is None:
            raise ValueError(
                f"seq_parallelism='blocked' needs an integer, timestamp or "
                f"date order column; {order!r} is "
                f"{dict(df.dtypes).get(order)}. Use seq_parallelism='window'."
            )
        return True
    if seq_parallelism != "auto" or df.isStreaming:
        return False
    n = bare_scan_row_count(df, allow_reducing=True)
    if n is None and rows_hint is not None:
        n = int(rows_hint)
    if n is None or n < rows_per_key or _order_code(df, order) is None:
        return False
    cores = _default_block_count(df.sparkSession)
    k = sampled_key_cardinality(df, keys)
    return k is not None and k <= max(8, cores) and n / max(k, 1) >= rows_per_key
