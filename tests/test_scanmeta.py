"""Footer-based scan metadata (operators/_scanmeta.py): the plan walk, the
file cap, multi-file totals, and the exact/upper-bound/None contract that
both the ANN scale guards and the spread guards rely on."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ffn_polars_spark.operators._scanmeta import (
    _FOOTER_FILE_CAP,
    bare_scan_row_count,
    scan_row_groups,
)


@pytest.fixture(scope="module")
def multi(tmp_path_factory, spark):
    """A 3-file parquet directory: 60+80+100 rows, 2 row groups per file."""
    d = tmp_path_factory.mktemp("multi")
    for i, n in enumerate((60, 80, 100)):
        pq.write_table(
            pa.table({"id": list(range(n))}),
            str(d / f"part-{i}.parquet"),
            row_group_size=50,
        )
    return spark.read.parquet(str(d))


def test_multi_file_totals(multi):
    assert bare_scan_row_count(multi) == 240
    assert scan_row_groups(multi) == 6  # 2+2+2


def test_walk_steps_only_known_nodes(multi, spark):
    # count-preserving shells keep exactness
    assert bare_scan_row_count(multi.select(F.col("id").alias("x"))) == 240
    assert bare_scan_row_count(multi.repartition(4)) == 240
    # reducing nodes need allow_reducing and yield the footer UPPER bound
    assert bare_scan_row_count(multi.where("id < 3")) is None
    assert bare_scan_row_count(multi.where("id < 3"), allow_reducing=True) == 240
    # row-increasing / non-relation shapes: never answered
    assert bare_scan_row_count(multi.join(multi.limit(1), "id"), allow_reducing=True) is None
    assert bare_scan_row_count(spark.range(5)) is None
    assert scan_row_groups(spark.range(5)) is None


def test_file_cap_falls_back(tmp_path, spark, monkeypatch):
    import ffn_polars_spark.operators._scanmeta as sm

    d = tmp_path / "many"
    d.mkdir()
    for i in range(4):
        pq.write_table(pa.table({"id": [i]}), str(d / f"f{i}.parquet"))
    df = spark.read.parquet(str(d))
    assert bare_scan_row_count(df) == 4
    # past the cap the helpers refuse (the probe job is cheaper than
    # thousands of driver-side footer opens)
    monkeypatch.setattr(sm, "_FOOTER_FILE_CAP", 3)
    assert bare_scan_row_count(df) is None
    assert scan_row_groups(df) is None
    assert _FOOTER_FILE_CAP >= 3  # module default untouched by the patch


def test_scan_row_groups_stops_at_exchange(multi):
    # Row COUNTING stays transparent through Repartition/Sort (covered
    # above: bare_scan_row_count(multi.repartition(4)) == 240), but the
    # PARALLELISM bound must not: a shuffle re-distributes rows, so the
    # scan's row-group ceiling no longer applies below it.
    assert scan_row_groups(multi) == 6
    assert scan_row_groups(multi.repartition(4, "id")) is None
    assert scan_row_groups(multi.orderBy("id")) is None
    assert scan_row_groups(multi.repartition(4)) is None


def test_scan_row_groups_through_coalesce(multi):
    # a coalesce moves no rows between partitions: the walk goes through
    # it, and its partition count caps the row-group bound
    assert scan_row_groups(multi.coalesce(1)) == 1
    assert scan_row_groups(multi.coalesce(4)) == 4
    assert scan_row_groups(multi.coalesce(16)) == 6
    assert scan_row_groups(multi.coalesce(4).repartition(4, "id")) is None
    assert bare_scan_row_count(multi.coalesce(1)) == 240


def test_spread_scan_spreads_single_partition_read(spark, tmp_path, monkeypatch):
    """read_table's one-partition shape of a small table keeps the footer
    answer, so spread_scan decides without an RDD and still spreads."""
    from ffn_polars_spark.operators._scanmeta import spread_scan
    from ffn_polars_spark.plans import count_exchanges
    from ffn_polars_spark.sources import read_table

    pq.write_table(
        pa.table({"id": list(range(2000))}),
        str(tmp_path / "t.parquet"),
        row_group_size=500,
    )
    df = read_table(spark, str(tmp_path), "t")
    assert scan_row_groups(df) == 1
    assert count_exchanges(df) == 0
    monkeypatch.setattr(
        type(df), "rdd", property(lambda self: pytest.fail("rdd probed"))
    )
    spread = spread_scan(df, "id")
    assert count_exchanges(spread) == 1


def test_spread_scan_skips_already_repartitioned(spark, tmp_path):
    from ffn_polars_spark.operators._scanmeta import spread_scan
    from ffn_polars_spark.plans import count_exchanges

    # single-row-group file: the raw scan's effective parallelism is 1
    f = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"id": list(range(2000))}), f, row_group_size=2000)
    df = spark.read.parquet(f)
    assert scan_row_groups(df) == 1
    pre = df.repartition(4, "id")
    for key in ("id", None):  # keyed and round-robin
        # raw scan DOES get the spread shuffle
        assert count_exchanges(spread_scan(df, key)) == 1
        # ...but a frame the user already repartitioned has REAL
        # parallelism equal to its shuffle partition count: no redundant
        # second shuffle.
        assert spread_scan(pre, key) is pre


def test_spread_scan_one_slot_passthrough(spark, tmp_path, monkeypatch):
    """On a one-slot cluster a shuffle cannot add parallelism: even a
    one-row-group scan passes through untouched."""
    from pyspark import SparkContext

    from ffn_polars_spark.operators._scanmeta import spread_scan

    f = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"id": list(range(2000))}), f, row_group_size=2000)
    df = spark.read.parquet(f)
    assert scan_row_groups(df) == 1
    monkeypatch.setattr(SparkContext, "defaultParallelism", property(lambda self: 1))
    for key in ("id", None):
        assert spread_scan(df, key) is df


def test_spread_scan_streaming_passthrough(spark):
    from ffn_polars_spark.operators._scanmeta import spread_scan

    sdf = spark.readStream.format("rate").load()
    assert sdf.isStreaming
    # df.rdd raises on streaming plans — the guard must not touch it
    assert spread_scan(sdf, "value") is sdf
    assert spread_scan(sdf) is sdf


def test_streaming_text_operator_composes(spark):
    # ~20 pure-projection text operators wrap their input in spread_scan;
    # they must stay streaming-composable (regression: df.rdd at compose
    # time raised AnalysisException on any streaming input).
    from pyspark.sql import functions as SF

    from ffn_polars_spark.operators.text import text_quality

    sdf = (
        spark.readStream.format("rate")
        .load()
        .select(
            SF.col("value").alias("doc_id"),
            SF.lit("hello streaming world").alias("text"),
        )
    )
    out = text_quality(sdf)
    assert out.isStreaming
    assert "quality_score" in out.columns or len(out.columns) > 2


def test_sampled_key_cardinality(multi, spark):
    from ffn_polars_spark.operators._scanmeta import sampled_key_cardinality

    df = multi.withColumn("k", F.col("id") % 3)
    assert sampled_key_cardinality(df, ["k"]) == 3
    sdf = spark.readStream.format("rate").load()
    assert sampled_key_cardinality(sdf, ["value"]) is None


def test_use_blocked_sequence_plan_no_probe_below_threshold(
    multi, spark, monkeypatch
):
    """Below the 50M-row footer gate the key-cardinality probe must NOT
    run — small frames pay zero jobs for the auto decision."""
    import ffn_polars_spark.operators._scanmeta as sm

    def boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("key probe ran below the footer gate")

    monkeypatch.setattr(sm, "sampled_key_cardinality", boom)
    df = multi.withColumn("k", F.col("id") % 3)
    assert sm.use_blocked_sequence_plan(df, ["k"], "id", "auto") is False
    # forced modes never probe either
    assert sm.use_blocked_sequence_plan(df, ["k"], "id", "blocked") is True
    assert sm.use_blocked_sequence_plan(df, ["k"], "id", "window") is False
    assert sm.use_blocked_sequence_plan(df, [], "id", "blocked") is False


def test_use_blocked_sequence_plan_streaming_blocked_raises(spark):
    """Forcing seq_parallelism='blocked' on a streaming frame must raise a
    clear ValueError up front — _order_blocked's bounds aggregate would
    otherwise fail deep inside the plan with an opaque
    streaming-unsupported error."""
    import pytest as _pytest

    import ffn_polars_spark.operators._scanmeta as sm

    sdf = spark.readStream.format("rate").load()
    with _pytest.raises(ValueError, match="batch-only"):
        sm.use_blocked_sequence_plan(sdf, ["value"], "timestamp", "blocked")
    # auto/window stay the safe no-op on streaming frames
    for mode in ("auto", "window"):
        assert (
            sm.use_blocked_sequence_plan(sdf, ["value"], "timestamp", mode)
            is False
        )


def test_use_blocked_sequence_plan_order_types(spark, monkeypatch):
    """The blocked plan slices each key's sequence by an exact integer
    encoding of the order: integer, timestamp and date orders qualify.
    Past the row-count gate, "auto" keeps the window plan for any other
    type without sampling keys, and "blocked" raises a ValueError that
    names the type; so does the block assignment itself."""
    import ffn_polars_spark.operators._scanmeta as sm
    from ffn_polars_spark.core import _order_blocked

    samples = []
    monkeypatch.setattr(
        sm, "sampled_key_cardinality", lambda df, keys: samples.append(keys) or 1
    )
    t = F.timestamp_micros("id")
    df = spark.range(3).select(
        F.lit("a").alias("k"),
        F.col("id").cast("int").alias("i"),
        t.alias("t"),
        F.date_from_unix_date(F.col("id").cast("int")).alias("d"),
        F.col("id").cast("double").alias("x"),
        F.col("id").cast("string").alias("s"),
        t.cast("timestamp_ntz").alias("n"),
    )
    for c in ("i", "t", "d"):
        assert sm.use_blocked_sequence_plan(df, ["k"], c, "blocked") is True
        assert (
            sm.use_blocked_sequence_plan(df, ["k"], c, "auto", rows_hint=10**9)
            is True
        )
    sampled = len(samples)
    for c, dtype in (("x", "double"), ("s", "string"), ("n", "timestamp_ntz")):
        with pytest.raises(ValueError, match=dtype):
            sm.use_blocked_sequence_plan(df, ["k"], c, "blocked")
        with pytest.raises(ValueError, match=dtype):
            _order_blocked(df, [c], num_blocks=2)
        assert (
            sm.use_blocked_sequence_plan(df, ["k"], c, "auto", rows_hint=10**9)
            is False
        )
    assert len(samples) == sampled


def test_use_blocked_sequence_plan_rows_hint_for_derived_frames(
    spark, tmp_path
):
    """Non-parquet-backed frames (joins, in-memory, caches) have no footer
    row count, so the auto gate always kept the window plan even at 100M
    rows/key. rows_hint supplies the caller's count for exactly that case;
    parquet footers still win when available (measured truth beats a stale
    hint)."""
    import ffn_polars_spark.operators._scanmeta as sm

    mem = spark.createDataFrame(
        [("a", i, float(i)) for i in range(40)], "k string, ts long, v double"
    )
    # no hint: unknown row count -> window plan (the historical behavior)
    assert sm.use_blocked_sequence_plan(mem, ["k"], "ts", "auto") is False
    # a 100M-rows/key hint routes blocked without seq_parallelism="blocked"
    assert (
        sm.use_blocked_sequence_plan(
            mem, ["k"], "ts", "auto", rows_hint=100_000_000
        )
        is True
    )
    # below the crossover the hint keeps the window plan
    assert (
        sm.use_blocked_sequence_plan(mem, ["k"], "ts", "auto", rows_hint=1_000_000)
        is False
    )
    # footer counts beat the hint on a bare parquet scan: a tiny file with
    # an (absurd) huge hint must NOT route blocked
    p = str(tmp_path / "tiny.parquet")
    mem.write.mode("overwrite").parquet(p)
    scan = spark.read.parquet(p)
    assert (
        sm.use_blocked_sequence_plan(scan, ["k"], "ts", "auto", rows_hint=10**9)
        is False
    )


def test_realized_volatility_rows_hint_blocked_parity(spark):
    """End-to-end: the rows_hint route produces the same realized vol as
    the window plan on a derived frame (values equal within float
    association tolerance)."""
    import math

    from ffn_polars_spark.functions.tick_price import calc_realized_volatility

    rows = [("s", i, 100.0 + (i % 7) - 3 + 0.25 * (i % 3)) for i in range(200)]
    df = spark.createDataFrame(rows, "k string, ts long, price double")
    win = {
        r["k"]: r["price_realized_volatility"]
        for r in calc_realized_volatility(
            df, "price", order_by="ts", by=["k"], seq_parallelism="window"
        ).collect()
    }
    blk = {
        r["k"]: r["price_realized_volatility"]
        for r in calc_realized_volatility(
            df,
            "price",
            order_by="ts",
            by=["k"],
            rows_hint=10_000_000_000,
        ).collect()
    }
    assert win.keys() == blk.keys()
    for k in win:
        assert math.isclose(win[k], blk[k], rel_tol=1e-9), (k, win[k], blk[k])


class _ConnectLikeSession:
    """Stub of a Spark Connect session: no sparkContext attribute, a conf
    whose shuffle-partitions value may be non-numeric ("auto" on
    deployments with auto-optimized shuffle)."""

    class _Conf:
        def __init__(self, value):
            self._value = value

        def get(self, key, default=None):
            return self._value

    def __init__(self, conf_value):
        self.conf = self._Conf(conf_value)

    @property
    def sparkContext(self):
        raise AttributeError("SparkContext is not available in Spark Connect")


class _ConnectLikeFrame:
    isStreaming = False
    dtypes = [("k", "string"), ("ts", "bigint")]

    def __init__(self, conf_value):
        self.sparkSession = _ConnectLikeSession(conf_value)


def test_order_blocked_connect_conf_fallback():
    """_order_blocked's block-count fallback under a Connect-like session
    (no sparkContext) must not raise when the shuffle-partitions conf is
    non-numeric ("auto") or unset — any positive count is value-identical,
    so it degrades to the stock 200."""
    from ffn_polars_spark.core import _default_block_count

    assert _default_block_count(_ConnectLikeSession("auto")) == 200
    assert _default_block_count(_ConnectLikeSession("16")) == 16
    assert _default_block_count(_ConnectLikeSession(None)) == 200
    assert _default_block_count(_ConnectLikeSession("8")) == 8
    assert _default_block_count(_ConnectLikeSession("0")) == 1


def test_use_blocked_sequence_plan_connect_session():
    """Past the row threshold the policy reads the slot count; under a
    Connect-like session that read falls back to the conf, and the key
    sample (no classic DataFrame to run it on) keeps the window plan."""
    from ffn_polars_spark.operators._scanmeta import use_blocked_sequence_plan

    assert (
        use_blocked_sequence_plan(
            _ConnectLikeFrame("8"), ["k"], "ts", rows_hint=10_000_000_000
        )
        is False
    )
