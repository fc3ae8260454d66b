"""Source/sink helpers: footer-derived table schemas match inference
without its job, partitioned writes prune at scan time, bucketed tables
join without exchanges, and ``configure`` says which confs it could not set."""

import glob
import os
import sys
from types import SimpleNamespace

import pytest
from tests.conftest import TESTDATA, jobs_in_group

from pyspark.errors import AnalysisException, IllegalArgumentException
from pyspark.sql import functions as F

from ffn_polars_spark.plans import count_exchanges, partition_filters
from ffn_polars_spark.sources import (
    TESTDATA_TABLES,
    configure,
    footer_schema,
    read_table,
    ts_ns_col,
    write_bucketed_table,
    write_table,
)


def _sf_dirs(root):
    return sorted(d for d in glob.glob(os.path.join(root, "sf*")) if os.path.isdir(d))


def _assert_tables_match_inference(spark, sf_dir):
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        assert os.path.exists(path), path
        assert footer_schema(spark, path) == spark.read.parquet(path).schema, path


def test_footer_schema_matches_inference_every_sf(spark):
    """Every testdata table at every scale factor: the driver-side footer
    schema equals the schema the inference job returns (under the
    ``nanosAsLong`` the session sets)."""
    sf_dirs = _sf_dirs(TESTDATA)
    if not sf_dirs:
        pytest.skip(f"no sf* testdata under {TESTDATA}")
    for sf_dir in sf_dirs:
        _assert_tables_match_inference(spark, sf_dir)


@pytest.mark.parametrize("seed", [3, 11])
def test_footer_schema_matches_inference_generated(spark, tmp_path, seed):
    from tools.gen_testdata import generate

    out = str(tmp_path / "sf0.001")
    generate(out, 0.001, seed=seed)
    _assert_tables_match_inference(spark, out)


def test_footer_schema_matches_inference_spark_written(spark, tmp_path):
    """A Spark writer stores its own schema in the footer; types parquet
    cannot say alone (timestamp_ntz, map, nested nullability) come back
    from it, exactly as inference reads them."""
    path = str(tmp_path / "typed.parquet")
    spark.sql(
        """SELECT CAST(id AS DECIMAL(12, 2)) AS amount,
                  TIMESTAMP '2024-01-02 03:04:05' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts,
                  TIMESTAMP_NTZ '2024-01-02 03:04:05' AS ts_ntz,
                  array(CAST(id AS FLOAT), CAST(NULL AS FLOAT)) AS vec,
                  named_struct('k', CAST(id AS INT), 's', CAST(id AS STRING)) AS rec,
                  map('a', id, 'b', CAST(NULL AS BIGINT)) AS m
           FROM range(5)"""
    ).coalesce(1).write.parquet(path)
    expected = spark.read.parquet(path).schema
    assert footer_schema(spark, path) == expected
    types = {f.name: f.dataType.simpleString() for f in expected.fields}
    assert types == {
        "amount": "decimal(12,2)",
        "ts": "timestamp",
        "ts_ntz": "timestamp_ntz",
        "vec": "array<float>",
        "rec": "struct<k:int,s:string>",
        "m": "map<string,bigint>",
    }
    assert read_table(spark, str(tmp_path), "typed").schema == expected


def _failure(exc):
    """What identifies a read failure: the Python type, plus the error
    condition, or for a failed inference job the Java root cause."""
    if hasattr(exc, "getCondition"):
        return type(exc), exc.getCondition()
    cause = exc.java_exception
    while cause.getCause() is not None:
        cause = cause.getCause()
    return type(exc), cause.getClass().getName(), cause.getMessage()


def _same_failure(spark, tmp_path, name):
    path = os.path.join(str(tmp_path), f"{name}.parquet")
    with pytest.raises(Exception) as plain:
        spark.read.parquet(path)
    with pytest.raises(Exception) as ours:
        read_table(spark, str(tmp_path), name)
    assert _failure(ours.value) == _failure(plain.value)


def test_read_table_falls_back_to_inference(spark, tmp_path):
    """Whatever the footer path does not take — a multi-file directory, a
    file that is not parquet, a corrupt footer, a missing path — reads or
    fails exactly as plain inference does."""
    multi = str(tmp_path / "multi.parquet")
    spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s").repartition(2).write.parquet(multi)
    assert footer_schema(spark, multi) is None
    assert read_table(spark, str(tmp_path), "multi").schema == spark.read.parquet(multi).schema

    (tmp_path / "text.parquet").write_text("not parquet at all\n" * 10)
    assert footer_schema(spark, str(tmp_path / "text.parquet")) is None
    _same_failure(spark, tmp_path, "text")

    # a parquet-shaped tail around a footer that does not decode
    (tmp_path / "corrupt.parquet").write_bytes(
        b"PAR1" + b"\xff" * 16 + (16).to_bytes(4, "little") + b"PAR1"
    )
    assert footer_schema(spark, str(tmp_path / "corrupt.parquet")) is None
    _same_failure(spark, tmp_path, "corrupt")

    assert footer_schema(spark, str(tmp_path / "missing.parquet")) is None
    _same_failure(spark, tmp_path, "missing")


def test_read_table_launches_no_job(spark):
    sf_dir = (_sf_dirs(TESTDATA) or [None])[0]
    if sf_dir is None:
        pytest.skip(f"no sf* testdata under {TESTDATA}")
    path = os.path.join(sf_dir, "lineitem.parquet")
    # the probe sees the inference job plain reads launch
    assert jobs_in_group(spark, lambda: spark.read.parquet(path).schema) >= 1
    assert jobs_in_group(spark, lambda: read_table(spark, sf_dir, "lineitem").schema) == 0


def _tick_eod_queries():
    """The tick_eod benchmark mix, read from perfbench/workloads.py."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_workloads", os.path.join(root, "perfbench", "workloads.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # the module's dataclass looks itself up
    spec.loader.exec_module(mod)
    return mod.WORKLOADS["tick_eod"].queries


@pytest.mark.parametrize("name", _tick_eod_queries())
def test_tiny_tick_query_plans_no_exchange_and_runs_one_job(spark, name):
    """Below SINGLE_PARTITION_MAX_ROWS a table is one partition, which
    satisfies every clustered distribution: each tick_eod query plans no
    exchange and runs as exactly one job."""
    from ffn_polars_spark.queries import QUERY_FNS

    sf_dir = os.path.join(TESTDATA, "sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    df = QUERY_FNS[name](spark, sf_dir)
    assert count_exchanges(df) == 0
    assert jobs_in_group(
        spark, lambda: df.write.format("noop").mode("overwrite").save()
    ) == 1


def test_read_table_single_partition_policy(spark, tmp_path, monkeypatch):
    """One partition at or below the threshold (from the footer's row
    count); the scan's own splits above it, and for a multi-file table."""
    from ffn_polars_spark import sources

    spark.range(0, 50_000, numPartitions=1).selectExpr(
        "id", "id * 2 AS v"
    ).write.parquet(str(tmp_path / "one.parquet"))
    spark.range(0, 50_000, numPartitions=3).write.parquet(
        str(tmp_path / "multi.parquet")
    )
    # many scan splits for a small file, so "one partition" is visible
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "64k")
    try:
        monkeypatch.setattr(sources, "SINGLE_PARTITION_MAX_ROWS", 50_000)
        assert read_table(spark, str(tmp_path), "one").rdd.getNumPartitions() == 1
        assert read_table(spark, str(tmp_path), "multi").rdd.getNumPartitions() > 1
        monkeypatch.setattr(sources, "SINGLE_PARTITION_MAX_ROWS", 49_999)
        above = read_table(spark, str(tmp_path), "one")
        assert above.rdd.getNumPartitions() > 1
        assert above.count() == 50_000
    finally:
        spark.conf.set(key, old)


def test_test_session_is_a_get_spark_session(spark):
    """The tests run the session users and the benchmark get: the fixture
    carries ``get_spark``'s static and local-tuning confs."""
    from ffn_polars_spark import sources

    expected = {
        "spark.python.daemon.module": sources.PYTHON_DAEMON_MODULE,
        "spark.sql.codegen.cache.maxEntries": str(sources.CODEGEN_CACHE_ENTRIES),
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.sql.files.maxPartitionBytes": "16MB",
    }
    assert {k: spark.conf.get(k, None) for k in expected} == expected


class _RefusingConf:
    """A session's conf that fails to set one key with ``error``."""

    def __init__(self, conf, refused, error):
        self._conf, self._refused, self._error = conf, refused, error

    def set(self, key, value):
        if key == self._refused:
            raise self._error
        self._conf.set(key, value)

    def get(self, key, default=None):
        return self._conf.get(key, default)


def test_configure_warns_naming_a_conf_it_cannot_set(spark):
    # the error a session raises for a conf it does not let you change
    with pytest.raises(AnalysisException) as refused:
        spark.conf.set("spark.sql.codegen.cache.maxEntries", "1")
    assert refused.value.getCondition() == "CANNOT_MODIFY_STATIC_CONFIG"
    key = "spark.sql.adaptive.enabled"
    session = SimpleNamespace(conf=_RefusingConf(spark.conf, key, refused.value))
    with pytest.warns(UserWarning) as caught:
        assert configure(session) is session
    assert [str(w.message) for w in caught] == [
        f"configure: the session does not allow setting {key}; "
        f"it keeps {key}=true (CANNOT_MODIFY_STATIC_CONFIG)"
    ]


def test_configure_raises_other_conf_errors(spark):
    with pytest.raises(IllegalArgumentException) as bad_value:
        spark.conf.set("spark.sql.adaptive.enabled", "5")
    key = "spark.sql.execution.arrow.pyspark.enabled"
    session = SimpleNamespace(conf=_RefusingConf(spark.conf, key, bad_value.value))
    with pytest.raises(IllegalArgumentException):
        configure(session)


def test_tick_ingestion_contract_all_sf(spark):
    """The round-3 regression class: the driver regenerated events.parquet
    with ts as timestamp[us] instead of TIMESTAMP(NANOS) and every query
    through ticks() died at analysis.  This contract test reads every
    shipped scale factor and pins the canonical tick schema, so the next
    silent testdata change fails here, not in the driver's gate."""
    from ffn_polars_spark.queries import ticks

    checked = 0
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = os.path.join(TESTDATA, sf)
        if not os.path.exists(os.path.join(d, "events.parquet")):
            continue
        t = ticks(spark, d)
        types = {f.name: f.dataType.simpleString() for f in t.schema.fields}
        assert types["ts_ns"] == "bigint", (sf, types)
        assert types["price"] == "double" and types["volume"] == "double"
        rows = t.select("ts_ns").limit(5).collect()
        assert rows and all(r.ts_ns % 1000 == 0 for r in rows), sf  # µs-aligned
        checked += 1
    assert checked >= 1  # all present sfs pinned (canonical env ships 3)


def test_ts_ns_col_dispatches_on_dtype(spark):
    """ts_ns_col must yield identical epoch-ns for the same instant whether
    ts was read as epoch-ns LongType (nanosAsLong) or as a timestamp."""
    import datetime

    ns = 1_700_000_000_123_456_789
    long_df = spark.createDataFrame([(ns,)], "ts long")
    ts_df = spark.createDataFrame(
        [(datetime.datetime.utcfromtimestamp(ns / 1e9),)], "ts timestamp"
    ).select(F.timestamp_micros(F.lit(ns // 1000)).alias("ts"))
    a = long_df.select(ts_ns_col(long_df).alias("ts_ns")).first().ts_ns
    b = ts_df.select(ts_ns_col(ts_df).alias("ts_ns")).first().ts_ns
    assert a == b == (ns // 1000) * 1000


def test_write_table_partitioned_prunes(spark, tmp_path):
    path = str(tmp_path / "events_by_type")
    ev = read_table(spark, f"{TESTDATA}/sf0.001", "events")
    write_table(ev, path, partition_by="event_type")
    # physical layout: one directory per event_type
    dirs = {d for d in os.listdir(path) if d.startswith("event_type=")}
    assert len(dirs) == 5
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    # a partition-key filter must prune to PartitionFilters, not a row filter
    filters = partition_filters(back.where(F.col("event_type") == "click"))
    assert any("event_type" in f for f in filters), filters


def test_write_bucketed_joins_without_exchange(spark):
    # managed tables land in the session's spark-warehouse dir (static conf,
    # can't be redirected at runtime); dropped at the end
    ev = read_table(spark, f"{TESTDATA}/sf0.001", "events").select(
        "user_id", "event_id", "value"
    )
    write_bucketed_table(ev, "ev_a", "user_id", n_buckets=8)
    write_bucketed_table(ev, "ev_b", "user_id", n_buckets=8)
    a, b = spark.table("ev_a"), spark.table("ev_b")
    j = a.groupBy("user_id").agg(F.sum("value").alias("v")).join(
        b.groupBy("user_id").agg(F.count("*").alias("n")), "user_id"
    )
    # both sides pre-bucketed on the key: no shuffle anywhere in the plan
    assert count_exchanges(j) == 0
    assert j.count() > 0
    spark.sql("DROP TABLE IF EXISTS ev_a")
    spark.sql("DROP TABLE IF EXISTS ev_b")


def test_jsonl_roundtrip_preserves_tricky_text(spark, tmp_path):
    from pyspark.sql import functions as F

    from ffn_polars_spark.sources import read_jsonl, write_jsonl

    rows = [
        (1, 'quotes "inside" and \\ backslash'),
        (2, "newline\nand\ttab"),
        (3, "unicode: café — 日本語 \U0001f600"),
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    path = str(tmp_path / "docs")
    write_jsonl(df, path)
    back = read_jsonl(spark, path, schema=df.schema)
    got = {r.doc_id: r.text for r in back.collect()}
    assert got == {r[0]: r[1] for r in rows}
    # explicit schema: no inference pass, types preserved exactly
    assert back.schema == df.schema
    # compressed write round-trips too
    write_jsonl(df, path + "_gz", compression="gzip")
    assert read_jsonl(spark, path + "_gz", schema=df.schema).count() == 5


def test_csv_roundtrip_adversarial_text(spark, tmp_path):
    from ffn_polars_spark.sources import read_csv, write_csv

    rows = [
        (1, 'line1\nline2', "en"),
        (2, 'quote " and , comma', "en"),
        (3, "unicode éè中文 \U0001f600", "zh"),
        (4, "", "en"),
        (5, None, "en"),
        (6, "  leading and trailing spaces  ", "en"),
    ]
    df = spark.createDataFrame(rows, ["id", "text", "lang"])
    p = str(tmp_path / "csv_rt")
    write_csv(df, p)
    back = read_csv(spark, p, schema=df.schema)
    got = {r.id: (r.text, r.lang) for r in back.collect()}
    want = {i: (t, l) for i, t, l in rows}
    # empty string and NULL both survive as empty/NULL-ish; everything
    # else must be byte-exact
    for i in (1, 2, 3, 6):
        assert got[i] == want[i], i
    assert got[4][0] in ("", None) and got[5][0] in ("", None)


def test_orc_roundtrip_exact(spark, tmp_path):
    from ffn_polars_spark.sources import read_orc, write_orc

    df = spark.createDataFrame(
        [(1, "a\nb", 1.5), (2, None, None)], ["id", "t", "v"]
    )
    p = str(tmp_path / "orc_rt")
    write_orc(df, p)
    back = read_orc(spark, p)
    assert sorted(back.collect()) == sorted(df.collect())
    assert back.schema == df.schema
