"""Core expression plumbing: column resolution, ordering specs, order-free
first/last helpers.

The reference's Polars expressions rely on *implicit* row order for every
``shift``/``cum_max``/``first``/``last`` (SURVEY.md §7.3-1). Spark DataFrames
have no row order, so every order-dependent operator here takes an explicit
:class:`Over` spec and compiles to ``Window.partitionBy(...).orderBy(...)``.
Omitting ``order_by`` on a series operator raises — a silently-wrong answer on
an unordered distributed table is the failure mode we design out.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional, Sequence, Union

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F

from ffn_polars_spark.pins import pin

ColumnOrName = Union[Column, str]


def to_col(c: ColumnOrName) -> Column:
    """Resolve a column name to a Column (reference: utils/typing.py:4-5)."""
    return F.col(c) if isinstance(c, str) else c


def col_name(c: ColumnOrName) -> Optional[str]:
    """Best-effort output name of a column expression.

    Mirrors ``expr.meta.output_name()`` in the reference
    (utils/decorators.py:16). For a plain string or ``F.col("x")`` this is
    exact; for composite expressions we fall back to ``None`` and the caller
    skips auto-aliasing (same fallback as the reference's ``except`` path,
    utils/decorators.py:36-37).
    """
    if isinstance(c, str):
        return c
    try:
        # Classic py4j Column: toString() prints the expression; a bare
        # attribute reference prints as its name.
        s = c._jc.toString()  # type: ignore[union-attr]
    except Exception:
        try:
            s = str(c)
            # Column<'name'> repr used by Spark Connect
            if s.startswith("Column<'") and s.endswith("'>"):
                s = s[8:-2]
            else:
                return None
        except Exception:
            return None
    if s and all(ch.isalnum() or ch in "_." for ch in s):
        return s.split(".")[-1]
    return None


def _to_seq(v) -> list:
    if v is None:
        return []
    if isinstance(v, (list, tuple)):
        return list(v)
    return [v]


@dataclass(frozen=True)
class Over:
    """Explicit ordering/grouping spec for order-dependent operators.

    ``partition_by`` carries the group keys (what the reference expresses by
    running the same expression inside ``group_by().agg``, SURVEY.md §3.2);
    ``order_by`` carries the time axis the reference gets implicitly from row
    order. ``order_by`` should be a unique (or tie-broken) key per partition —
    pass several columns for deterministic tie-breaks.
    """

    order_by: Union[ColumnOrName, Sequence[ColumnOrName], None] = None
    partition_by: Union[ColumnOrName, Sequence[ColumnOrName], None] = field(default=None)

    @property
    def partition_cols(self) -> list:
        return [to_col(c) for c in _to_seq(self.partition_by)]

    @property
    def order_cols(self) -> list:
        return [to_col(c) for c in _to_seq(self.order_by)]

    def _require_order(self, op: str) -> None:
        if not _to_seq(self.order_by):
            raise ValueError(
                f"{op} is order-dependent: pass Over(order_by=...) — Spark has no "
                "implicit row order, so an explicit sort key is required."
            )

    def w_ordered(self, op: str = "operator") -> WindowSpec:
        """Ordered window for lag/lead (default frame, never used for aggs)."""
        self._require_order(op)
        return Window.partitionBy(*self.partition_cols).orderBy(*self.order_cols)

    def w_cum(self, op: str = "operator") -> WindowSpec:
        """Running frame: unbounded-preceding .. current row, ROWS-based.

        ROWS (not RANGE) so duplicate order keys behave like Polars positional
        semantics — callers are expected to pass a tie-breaking order_by.
        """
        self._require_order(op)
        return (
            Window.partitionBy(*self.partition_cols)
            .orderBy(*self.order_cols)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )

    def w_full(self) -> WindowSpec:
        """Whole-partition frame (order-free aggregates over the group)."""
        if _to_seq(self.order_by):
            return (
                Window.partitionBy(*self.partition_cols)
                .orderBy(*self.order_cols)
                .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            )
        return Window.partitionBy(*self.partition_cols)


# ---------------------------------------------------------------------------
# Order-free first/last aggregates.
#
# Polars ``first()``/``last()`` read the (implicitly ordered) series ends. In a
# distributed agg, F.first/F.last are nondeterministic, so we take the row with
# the min/max ordering key via a struct: max(struct(ts, value)) compares ts
# first, so .getField() yields the value at the latest ts. Deterministic even
# under shuffles; ties broken by the value itself.
# ---------------------------------------------------------------------------

def last_by(value: ColumnOrName, ts: ColumnOrName) -> Column:
    """Aggregate: value at the maximum ts (Polars ``.last()`` on sorted data)."""
    return F.max(F.struct(to_col(ts).alias("k"), to_col(value).alias("v"))).getField("v")


def first_by(value: ColumnOrName, ts: ColumnOrName) -> Column:
    """Aggregate: value at the minimum ts (Polars ``.first()`` on sorted data)."""
    return F.min(F.struct(to_col(ts).alias("k"), to_col(value).alias("v"))).getField("v")


def safe_div(num: Column, den: Column) -> Column:
    """``num / den``, NULL when ``den`` is exactly 0.

    Under Spark 4's default ANSI mode any division by an exactly-0.0
    data-derived denominator THROWS (DIVIDE_BY_ZERO) — double included —
    so every operator dividing by a value a degenerate corpus can zero
    (first price, vector norm, group total) must route through this.
    NULL matches the DuckDB oracles' zero-division convention, keeping
    the twin queries bit-exact on canonical data.
    """
    return F.when(den != 0, num / den)


def last_by_if(cond: Column, value: ColumnOrName, ts: ColumnOrName) -> Column:
    """Aggregate: value at the max ts among rows where ``cond`` holds."""
    return F.max(
        F.when(cond, F.struct(to_col(ts).alias("k"), to_col(value).alias("v")))
    ).getField("v")


def first_by_if(cond: Column, value: ColumnOrName, ts: ColumnOrName) -> Column:
    return F.min(
        F.when(cond, F.struct(to_col(ts).alias("k"), to_col(value).alias("v")))
    ).getField("v")


# ---------------------------------------------------------------------------
# Timestamp helpers: tick timestamps are LongType epoch-nanoseconds
# (FIXTURES.md; Spark TimestampType is µs-precision). EOD date columns are
# DateType/TimestampType.
# ---------------------------------------------------------------------------

def ts_to_ns(c: ColumnOrName) -> Column:
    """TimestampType -> epoch nanoseconds (LongType)."""
    return (F.unix_micros(to_col(c)) * F.lit(1000)).cast("long")


def ns_to_timestamp(c: ColumnOrName) -> Column:
    """Epoch-ns LongType -> TimestampType (µs truncation, for calendar ops)."""
    return F.timestamp_micros((to_col(c) / F.lit(1000)).cast("long"))


def epoch_seconds(c: ColumnOrName) -> Column:
    """Date/Timestamp -> fractional epoch seconds (DoubleType)."""
    cc = to_col(c)
    return F.unix_micros(cc.cast("timestamp")).cast("double") / F.lit(1_000_000.0)


# ---------------------------------------------------------------------------
# Distributed prefix sums.
# ---------------------------------------------------------------------------

def ranged_cumsum(df, order_cols, vals: dict, return_totals: bool = False):
    """Cumulative sums over an arbitrary global ordering WITHOUT a
    single-partition window.

    Range-repartition by ``order_cols``, run each cumulative sum inside
    its (sorted) partition, then add per-partition offsets derived from a
    tiny driver-side pass over partition totals (bounded by the partition
    count, not the data). Range boundaries are sampled, so where a
    partition ends depends on the sample and the cluster. Integer and
    decimal sums are exact in any association and therefore identical on
    any cluster shape; float sums can differ by a few ulp between shapes.

    Why this is not :func:`blocked_keyed_cumsum` with ``keys=[]``: its
    callers order by heavy-tailed values (Zipf counts, Pareto
    contributions, ECDF ranks over any type). Equal-width slices of such
    an order's min/max put nearly every row in one slice; sampled range
    boundaries split it into equal-count partitions instead.

    ``vals`` maps output column name -> input Column to sum. The
    range-partitioned input is pinned (``pins.pin``, lazily: the totals
    collect fills it) so the totals pass and the output share one
    materialization. Returns the sorted frame plus the cumulative columns
    (internal ``__pid`` dropped); with ``return_totals=True`` returns
    ``(frame, {out_name: grand_total})`` — the grand totals fall out of
    the offsets pass for free, saving callers that need them (Pareto
    shares, ECDF normalizers) a second full aggregate over the output.

    One-shot across ``release_pins()``: the offsets are driver literals
    keyed by ``__pid``, and a re-execution without the pin re-samples the
    range boundaries. Each cumulative column raises (``ranged_cumsum: ...``)
    when its partition's row count differs from the one the totals saw;
    for unique order keys equal counts mean identical partitions, so a
    re-executed frame equals the first result or fails.
    """
    order = [to_col(c) if isinstance(c, str) else c for c in order_cols]
    parts = (
        df.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn("__pid", F.spark_partition_id())
    )
    parts = pin(parts, eager=False)
    totals = (
        parts.groupBy("__pid")
        .agg(
            F.count(F.lit(1)).alias("__pid_rows"),
            *[F.sum(v).alias(k) for k, v in vals.items()],
        )
        .collect()
    )
    by_pid = {r["__pid"]: r for r in totals}
    # offset per partition = running sum of PREVIOUS partition totals, kept
    # NULLABLE: None until some earlier partition held a non-null value.
    # The window's running sum skips NULLs and is NULL only while no
    # non-null value has occurred, so a row whose partition-local running
    # sum is NULL (all-NULL prefix in its range partition) must CARRY a
    # non-null offset forward, not null the result — and must stay NULL
    # when every earlier partition was all-NULL too (hypothesis-found,
    # the same seam contract as blocked_keyed_cumsum).
    # The accumulator keeps the NATIVE Python type of the partition
    # totals (int stays int, Decimal stays Decimal — arbitrary
    # precision), so the return_totals grand totals are exact beyond
    # 2^53 for long/decimal columns; only the per-row OFFSET column is
    # cast to double (the map literal below), which is a column-path
    # width choice, not a totals-precision one.
    offsets = {k: {} for k in vals}
    acc = {k: 0 for k in vals}
    seen = {k: False for k in vals}
    for pid in sorted(by_pid):
        for k in vals:
            offsets[k][pid] = acc[k] if seen[k] else None
            tot = by_pid[pid][k]
            if tot is not None:
                seen[k] = True
                acc[k] += tot
    w = Window.partitionBy("__pid").orderBy(*order)
    # the guard's count shares the running sums' partition and order spec:
    # one Window operator, no extra exchange or sort
    rows = [F.lit(x) for p, r in by_pid.items() for x in (p, r["__pid_rows"])]
    rows_then = (
        F.element_at(F.create_map(*rows), F.col("__pid")) if rows else F.lit(None)
    )
    repartitioned = F.coalesce(rows_then, F.lit(0)) != F.count(F.lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    stale = F.raise_error(
        F.lit(
            "ranged_cumsum: re-executed after its pin was released; the "
            "range partitions changed, rebuild the frame"
        )
    )
    w = w.rowsBetween(Window.unboundedPreceding, 0)
    out = parts
    for k, v in vals.items():
        if offsets[k]:
            off = F.element_at(
                F.create_map(
                    *[
                        F.lit(x).cast("double") if i % 2 else F.lit(x)
                        for kv in offsets[k].items()
                        for i, x in enumerate(kv)
                    ]
                ),
                F.col("__pid"),
            )
        else:
            off = F.lit(None).cast("double")
        loc = F.sum(v).over(w)
        out = out.withColumn(
            k,
            F.when(repartitioned, stale)
            .when(loc.isNull() & off.isNull(), F.lit(None))
            .otherwise(F.coalesce(loc, F.lit(0)) + F.coalesce(off, F.lit(0))),
        )
    out = out.drop("__pid")
    if return_totals:
        return out, {k: (acc[k] if seen[k] else None) for k in vals}
    return out


def _default_block_count(session) -> int:
    """Block count for the blocked-sequence primitives when the caller
    didn't pass one: the cluster's slot count, or — under Spark Connect,
    where no client-side SparkContext exists — the shuffle-partition conf.
    Any positive count is CORRECT (it only tunes parallelism), so the
    Connect path must also tolerate non-numeric conf values like "auto"
    (auto-optimized shuffle deployments) rather than raise from inside the
    fallback itself."""
    try:
        return session.sparkContext.defaultParallelism
    except AttributeError:  # Spark Connect: no client-side SparkContext
        conf = session.conf.get("spark.sql.shuffle.partitions", "200")
        try:
            return max(1, int(conf))
        except (TypeError, ValueError):
            return 200


def _order_code(df, col: str) -> Optional[Column]:
    """Exact, order-preserving long encoding of order column ``col``: the
    value itself for integer types, ``unix_micros`` for timestamps and
    ``unix_date`` for dates. None for every other type (double, decimal,
    string, timestamp_ntz, ...), which the blocked primitives cannot
    slice."""
    dtype = dict(df.dtypes).get(col)
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        return F.col(col).cast("long")
    if dtype == "timestamp":
        return F.unix_micros(F.col(col))
    if dtype == "date":
        return F.unix_date(F.col(col)).cast("long")
    return None


def _order_blocked(df, order, num_blocks=None):
    """Attach the slice id ``__blk`` of the blocked sequence primitives: a
    function of the row's first order value alone, equal-width intervals
    over its min/max (:func:`_order_code`; one single-column aggregate
    job). Block ids are monotone in the order, so slices are contiguous and
    the window's own (block, keys) exchange is the only data-sized shuffle.

    One block (no bounds job) when ``num_blocks`` is 1; one block after
    the bounds job when the span is zero, empty, or too wide for int64 —
    correct, only serial. Raises ValueError for an order type without an
    exact integer encoding."""
    p = int(num_blocks or _default_block_count(df.sparkSession))
    code = _order_code(df, order[0])
    if code is None:
        raise ValueError(
            f"blocked sequence primitives need an integer, timestamp or date "
            f"first order column; {order[0]!r} is {dict(df.dtypes).get(order[0])}"
        )
    blk = F.lit(0)
    if p > 1:
        mm = df.agg(F.min(code).alias("lo"), F.max(code).alias("hi")).first()
        lo, hi = mm["lo"], mm["hi"]
        # (code - lo) runs in long arithmetic on the executors and must not
        # overflow: keys spanning both halves of the int64 range would give
        # non-monotone block ids and a wrong stitch order. Python ints don't
        # overflow, so check here.
        if lo is not None and lo < hi and hi - lo < (1 << 63):
            width = -(-(hi - lo + 1) // p)
            blk = ((code - F.lit(lo)) / F.lit(width)).cast("long")
    return df.withColumn("__blk", blk)


def blocked_keyed_cumsum(
    df,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    vals: dict,
    num_blocks: Optional[int] = None,
):
    """``sum(val) OVER (PARTITION BY keys ORDER BY order ROWS UNBOUNDED
    PRECEDING)`` WITHOUT the key-cardinality parallelism floor — the one
    running-sum stitch of the blocked sequence family (its sibling
    :func:`blocked_keyed_lag` moves values instead of adding them).
    ``keys=[]`` is the un-keyed prefix sum (token-budget sharding, the
    simulator's price walk); a per-key row number is the running sum of
    ``F.lit(1)``.

    Per-(block, keys) local running sums + per-key running slice-total
    offsets (a blocks x keys-row frame). Blocks come from the first order
    column's value (:func:`_order_blocked`), so the output depends only on
    the order and ``num_blocks``. For integer-valued and decimal columns
    the result is EXACTLY the window's; for general floating-point values
    the slice/offset association can differ from the sequential window sum
    by ~1 ulp — callers that threshold the cumsum (bar assignment) should
    treat epsilon-boundary flips as inherent to float accumulation, not a
    plan property. With one block the float sum is the window's, bit for
    bit.

    ``vals`` maps output name -> column name (or Column) to sum. Returns
    the frame plus the running-sum columns (internal columns dropped)."""
    keys = list(key_cols)
    order = list(order_cols)
    rb = _order_blocked(df, order, num_blocks)
    w = (
        Window.partitionBy("__blk", *keys)
        .orderBy(*[F.col(c) for c in order])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = rb.select(
        "*",
        *[
            F.sum(to_col(src)).over(w).alias(f"__loc_{out}")
            for out, src in vals.items()
        ],
    )
    # slice total = the LAST row's running value (struct-max on the unique
    # order prefix — NOT max(loc), which is wrong for negative addends)
    totals = local.groupBy("__blk", *keys).agg(
        *[
            F.max(
                F.struct(
                    *[F.col(c) for c in order], F.col(f"__loc_{out}").alias("__v")
                )
            )
            .getField("__v")
            .alias(f"__tot_{out}")
            for out in vals
        ]
    )
    wo = (
        Window.partitionBy(*keys)
        .orderBy("__blk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # offsets stay NULLABLE: a NULL offset means "no non-null value in any
    # previous slice" — pre-coalescing it to 0 would break the window's
    # null contract below
    offsets = totals.select(
        "__blk",
        *keys,
        *[
            F.sum(F.col(f"__tot_{out}")).over(wo).alias(f"__off_{out}")
            for out in vals
        ],
    )
    # a LEFT join keeps a row whose slice has no offsets row (a NULL block
    # id: NULL order values, the first slice, whose offset is NULL anyway)
    # and, unlike an inner join, infers no isnotnull filter on ``local``:
    # the totals branch's exchange then equals this one and is reused
    out_df = local.join(offsets, ["__blk", *keys], "left")
    for out in vals:
        loc, off = F.col(f"__loc_{out}"), F.col(f"__off_{out}")
        # the window's running sum SKIPS nulls and is NULL only while no
        # non-null value has occurred; a NULL local (all-null slice prefix)
        # with a non-null offset must therefore carry the offset forward,
        # not null the result (hypothesis-found: an all-null slice between
        # valued slices)
        out_df = out_df.withColumn(
            out,
            F.when(loc.isNull() & off.isNull(), F.lit(None)).otherwise(
                F.coalesce(loc, F.lit(0)) + F.coalesce(off, F.lit(0))
            ),
        )
    drop = ["__blk"] + [f"__loc_{o}" for o in vals] + [f"__off_{o}" for o in vals]
    return out_df.drop(*drop)


def blocked_keyed_lag(
    df,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    lag_cols: dict,
    num_blocks: Optional[int] = None,
):
    """``F.lag(col, 1) OVER (PARTITION BY keys ORDER BY order)`` WITHOUT the
    key-cardinality parallelism floor — the lag member of the blocked
    sequence family (:func:`blocked_keyed_cumsum` is the running sum).

    A plain per-key window caps its parallelism at the number of distinct
    keys: a 100M-row tape with 5 tickers sorts five 20M-row partitions on
    five cores while the rest of the cluster idles, and the wall grows
    linearly with the data (measured: calc_realized_volatility 9.7x at the
    sf100 decade, all of it in the 5-task sort). Here each key's sequence
    is sliced into contiguous ORDER-RANGE blocks and the window runs per
    (block, key) — parallelism = blocks x keys, chosen from the cluster,
    not the data — then the per-(block, key) boundary rows (a frame bounded
    by blocks x keys, never by data) carry the previous slice's last values
    across the seam.

    Block ids derive from the first order column's VALUE (equi-width
    intervals over its min/max — one single-column aggregate job), NOT from
    ``repartitionByRange``: value-derived blocks make the window's own
    (block, keys) hash exchange the only data-sized shuffle — the same
    exchange count as the plain window — where a range partitioning would
    add a full sampling pass plus a second shuffle (measured: 16.3 s vs
    21.0 s window at sf100 with the sampling pass, 12-13 s without). The
    first order column must be an integer, timestamp or date
    (:func:`_order_code`); other types raise ValueError.

    Value-identical to the plain window: a lag MOVES values, no arithmetic
    happens, and every row's predecessor is either in its own slice (the
    local window) or the last row of the previous slice of its key (the
    boundary join patches exactly the slice-first rows, by row number, so
    genuine NULL values in the lagged column are never re-patched).
    Requires ``order_cols`` to be unique per key — the same contract as any
    deterministic use of ``F.lag``.

    ``lag_cols`` maps output name -> existing column name to lag. Returns
    the frame with the lag columns appended (internal columns dropped).
    Intended for LOW-cardinality keys: past ~cluster-core cardinality the
    plain window already parallelizes and is strictly cheaper.
    """
    keys = list(key_cols)
    order = list(order_cols)
    rb = _order_blocked(df, order, num_blocks)
    w = Window.partitionBy("__blk", *keys).orderBy(*[F.col(c) for c in order])
    local = rb.select(
        "*",
        F.row_number().over(w).alias("__bkl_rn"),
        *[F.lag(F.col(src), 1).over(w).alias(f"__lag_{out}") for out, src in lag_cols.items()],
    )
    # last row of each (block, key) slice: struct-max on the unique order
    # prefix; .getField picks the data column off the winning row (NULLs in
    # the data column ride along — the struct itself is never null).
    # Column pruning rewrites this branch down to scan -> map-side partial
    # aggregate -> blocks x keys-row exchange (the window never evaluates
    # here), so the seam costs one extra PRUNED scan and a tiny shuffle —
    # never a second data-sized exchange. Pinning the tape to share the
    # scan would violate the pin policy (corpus-width cache); the pruned
    # re-scan is the cheaper, spill-free trade. Plan shape gated by
    # tests/test_plans.py::test_blocked_keyed_lag_plan_shape.
    bounds = local.groupBy("__blk", *keys).agg(
        F.min(F.struct(*[F.col(c) for c in order])).alias("__first_o"),
        *[
            F.max(F.struct(*[F.col(c) for c in order], F.col(src).alias("__v")))
            .getField("__v")
            .alias(f"__last_{out}")
            for out, src in lag_cols.items()
        ],
    )
    wb = Window.partitionBy(*keys).orderBy("__first_o")
    prev = bounds.select(
        "__blk",
        *keys,
        *[
            F.lag(F.col(f"__last_{out}"), 1).over(wb).alias(f"__prev_{out}")
            for out in lag_cols
        ],
    )
    # blocks x keys rows: tiny next to the tape; AQE broadcasts it when it
    # fits, and a mis-gated high-cardinality call degrades to one extra
    # small shuffle rather than a driver-side failure
    out_df = local.join(prev, ["__blk", *keys], "left")
    for out in lag_cols:
        out_df = out_df.withColumn(
            out,
            F.when(F.col("__bkl_rn") == 1, F.col(f"__prev_{out}")).otherwise(
                F.col(f"__lag_{out}")
            ),
        )
    drop = ["__blk", "__bkl_rn"] + [f"__lag_{o}" for o in lag_cols] + [
        f"__prev_{o}" for o in lag_cols
    ]
    return out_df.drop(*drop)
