"""Data sources: session builder, testdata loaders, golden-CSV reader.

The reference's only scan is ``pl.read_csv`` in its test fixture
(tests/fixtures.py:11); Spark gives us Parquet/CSV/JSON plus predicate
pushdown and column pruning for free, so the engine standardizes on these
helpers for all I/O.
"""

from __future__ import annotations

import json
import os
import warnings
from typing import Optional, Tuple

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Entries in Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``,
# default 100, a static conf). A whole benchmark run compiles 133 distinct
# classes on tick_eod and 141-145 on corpus_stream; at 100 the cache is an
# LRU that the cyclic query mix evicts before every reuse, so each warm
# query compiles again. Guava splits the capacity over 4 segments, so the
# size keeps room for uneven hashing and a larger query mix (docs/tuning.md).
CODEGEN_CACHE_ENTRIES = 1000

# The Python worker daemon (``spark.python.daemon.module``, a static conf):
# PySpark's own daemon, but a task's ``importlib.invalidate_caches()`` no
# longer re-reads the directory of an unchanged pyspark.zip, which costs
# 0.2-0.3 s per Python task on CPython 3.10-3.12 (docs/tuning.md).
PYTHON_DAEMON_MODULE = "ffn_polars_spark._pydaemon"

# Largest one-file table ``read_table`` returns as a single partition. Up to
# it, one task running a window or aggregate beats the exchange, the extra
# job and the task launches of the distributed plan; above it, the lost
# parallelism costs more. The largest measured events row count at which no
# tick query ran slower in one partition, at 4 cores; at 200k rows 7 of the
# 10 lose (docs/tuning.md, "Tiny inputs run as one partition").
SINGLE_PARTITION_MAX_ROWS = 175_000

# Spark's error conditions for a conf that the session refuses to change.
_UNMODIFIABLE_CONF = ("CANNOT_MODIFY_CONFIG", "CANNOT_MODIFY_STATIC_CONFIG")


def configure(spark: SparkSession) -> SparkSession:
    """Runtime confs the engine depends on; safe to apply to an externally
    created session (the correctness driver owns its own SparkSession).

    * ``nanosAsLong``: the tick tables carry parquet TIMESTAMP(NANOS) — Spark
      has no ns-precision timestamp, so they surface as epoch-ns LongType,
      exactly the engine's tick time axis (FIXTURES.md).
    * UTC session timezone: calendar functions on naive timestamps must agree
      with the (UTC-based) oracle.
    * AQE and Arrow are performance settings: a session that refuses to
      change one keeps its own value, with a warning naming the conf.

    Static confs (``get_spark``'s call-site capture, generated-code cache
    size and Python worker daemon) cannot be set here; a session built
    elsewhere passes them at launch.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for key in ("spark.sql.adaptive.enabled", "spark.sql.execution.arrow.pyspark.enabled"):
        try:
            spark.conf.set(key, "true")
        except AnalysisException as e:
            if e.getCondition() not in _UNMODIFIABLE_CONF:
                raise
            warnings.warn(
                f"configure: the session does not allow setting {key}; "
                f"it keeps {key}={spark.conf.get(key, None)} ({e.getCondition()})",
                stacklevel=2,
            )
    return spark


def get_spark(app_name: str = "ffn-polars-spark", cpus: Optional[int] = None) -> SparkSession:
    """Local session tuned for the test/bench environment.

    On a real cluster these settings come from spark-submit; the knobs that
    matter at scale are set the same way here: AQE on (runtime re-plan, skew
    join handling), Arrow on (every pandas_udf boundary is Arrow-batched),
    shuffle partitions sized to the parallelism.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # The worker daemon (PYTHON_DAEMON_MODULE) starts as `python -m`, so its
    # interpreter must find this package before any task adds a path: the
    # JVM, launched below, passes its PYTHONPATH on to the daemon.
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in map(os.path.abspath, paths):
        os.environ["PYTHONPATH"] = os.pathsep.join([root] + paths)
    session = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        # local single-file tables split into ~file_size/maxPartitionBytes
        # scan tasks; the default 128 MB leaves most cores idle on CPU-bound
        # projections (a 380 MB file = 3 tasks on 32 cores). 16 MB is a
        # LOCAL tuning — clusters set their own via spark-submit.
        .config("spark.sql.files.maxPartitionBytes", "16MB")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # UI off by default (test startup cost); bench.py turns it on via the
        # env knob to read per-stage metrics from the UI REST API
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # PySpark 4 records the Python call site of every Column call (a
        # stack walk and ~6 JVM round trips each) for the `== DataFrame ==`
        # block of error messages. Off, building the tick benchmark's
        # queries takes 2208 round trips instead of 6096 (docs/tuning.md).
        # A static conf, so configure() cannot set it on a session built
        # elsewhere.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Compile each query shape's generated classes once per session
        # (CODEGEN_CACHE_ENTRIES). Static as well.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Python tasks stop re-reading pyspark.zip (PYTHON_DAEMON_MODULE).
        .config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
        .getOrCreate()
    )
    return configure(session)


# Names Spark's file listing skips (InMemoryFileIndex.shouldFilterOutPathName);
# the parquet summary files it keeps would take over inference.
def _hidden(name: str) -> bool:
    if name.startswith(("_metadata", "_common_metadata")):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _single_data_file(path: str) -> Optional[str]:
    """The one local file ``spark.read.parquet(path)`` infers its schema
    from: ``path`` itself, or the only visible entry of a directory."""
    if os.path.isfile(path):
        return path
    if not os.path.isdir(path):
        return None
    visible = [e for e in os.scandir(path) if not _hidden(e.name)]
    if len(visible) == 1 and visible[0].is_file():
        return visible[0].path
    return None


def _footer_bytes(file: str) -> Optional[bytes]:
    """The thrift FileMetaData at the tail of a parquet file (layout:
    ``... footer | footer length (4 bytes LE) | PAR1``), or None when the
    tail is not a plaintext parquet footer."""
    with open(file, "rb") as f:
        size = f.seek(0, os.SEEK_END)
        if size < 12:
            return None
        f.seek(size - 8)
        tail = f.read(8)
        n = int.from_bytes(tail[:4], "little")
        if tail[4:] != b"PAR1" or n > size - 12:
            return None
        f.seek(size - 8 - n)
        return f.read(n)


def _read_footer(spark: SparkSession, path: str) -> Optional[Tuple[StructType, int]]:
    """``(schema, row count)`` of the one local parquet file behind ``path``,
    read from its footer on the driver, or None (see :func:`footer_schema`)."""
    jvm = getattr(spark, "_jvm", None)
    if jvm is None:
        return None
    try:
        file = _single_data_file(path)
        raw = _footer_bytes(file) if file else None
    except OSError:
        return None
    if raw is None:
        return None
    try:
        # the thrift FileMetaData, row groups skipped: num_rows is a
        # file-level field
        thrift = getattr(jvm, "org.apache.parquet.format.Util").readFileMetaData(
            getattr(jvm, "java.io.ByteArrayInputStream")(raw), True
        )
        meta = getattr(
            jvm, "org.apache.parquet.format.converter.ParquetMetadataConverter"
        )().fromParquetMetadata(thrift)
        footer = getattr(jvm, "org.apache.parquet.hadoop.Footer")(
            getattr(jvm, "org.apache.hadoop.fs.Path")(file), meta
        )
        parquet = "org.apache.spark.sql.execution.datasources.parquet."
        to_spark = getattr(jvm, parquet + "ParquetToSparkSchemaConverter")(
            spark._jsparkSession.sessionState().conf()
        )
        jschema = getattr(jvm, parquet + "ParquetFileFormat").readSchemaFromFooter(
            footer, to_spark
        )
        rows = thrift.getNum_rows()
    except Py4JJavaError:
        return None
    # the relation reads every data column as nullable
    return StructType.fromJson(json.loads(jschema.asNullable().json())), rows


def footer_schema(spark: SparkSession, path: str) -> Optional[StructType]:
    """``spark.read.parquet(path).schema`` without the inference job.

    Inference reads one footer inside a Spark job. For a local file, or a
    directory holding exactly one visible data file, this reads that footer
    on the driver and converts it with the routine inference runs on each
    footer (``ParquetFileFormat.readSchemaFromFooter`` with a
    ``ParquetToSparkSchemaConverter`` over the session conf). The Spark
    schema a Spark writer stores in the footer, and every parquet-to-Spark
    type rule (``nanosAsLong``, TIMESTAMP_NTZ inference, decimals), stay
    Spark's. Returns None for anything else: remote or glob paths,
    multi-file or partitioned directories, summary files, non-parquet or
    encrypted files, sessions without a JVM gateway. Callers then fall back
    to inference, which raises its own error where the path is unusable.
    Nothing is cached: every call reads the footer.
    """
    footer = _read_footer(spark, path)
    return None if footer is None else footer[0]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table. Its schema and row count come from the parquet
    footer on the driver (:func:`footer_schema`), so building a query
    launches no schema-inference job; other paths fall back to plain
    inference.

    A one-file table of at most ``SINGLE_PARTITION_MAX_ROWS`` rows comes
    back as one partition (``coalesce(1)``, no shuffle): one partition
    satisfies every clustered distribution, so a window or aggregate over
    it plans no exchange and the query runs as one job. Multi-file, remote
    and partitioned tables keep the scan's own partitioning.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    footer = _read_footer(spark, path)
    if footer is None:
        return spark.read.parquet(path)
    schema, rows = footer
    df = spark.read.schema(schema).parquet(path)
    return df.coalesce(1) if rows <= SINGLE_PARTITION_MAX_ROWS else df


def ts_ns_col(df: DataFrame, col: str = "ts") -> Column:
    """Epoch-nanosecond tick-time Column, µs-aligned, robust to how the
    testdata was written.

    The driver's ``events.ts`` has shipped both as parquet TIMESTAMP(NANOS)
    (surfaces as epoch-ns LongType under ``nanosAsLong``) and as plain
    ``timestamp[us]`` (surfaces as TIMESTAMP_NTZ, which ``nanosAsLong``
    does not touch).  Both paths normalize to the same µs-truncated epoch-ns
    integer the DuckDB oracle computes with ``epoch_us(ts) * 1000``:

    * LongType epoch-ns → ``ts div 1000 * 1000`` (truncate sub-µs noise —
      DuckDB reads TIMESTAMP(NANOS) at µs precision).
    * timestamp / TIMESTAMP_NTZ → ``unix_micros(cast(ts as timestamp)) *
      1000`` (exact under the UTC session timezone :func:`configure` sets).

    Dispatching on the *read* dtype here — rather than assuming a writer
    convention — is what keeps the whole tick catalog alive when the
    testdata generator changes its parquet logical type.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return F.expr(f"`{col}` div 1000") * F.lit(1000)
    return F.unix_micros(F.col(col).cast("timestamp")) * F.lit(1000)


GOLDEN_CSV = "/root/reference/tests/data/test_data.csv"


def load_golden_prices(spark: SparkSession, path: str = GOLDEN_CSV) -> DataFrame:
    """The reference's 10-year AAPL/MSFT/C daily close CSV (M/D/YYYY dates),
    used by its golden-value tests (tests/fixtures.py:8-17)."""
    raw = spark.read.csv(path, header=True, inferSchema=True)
    return raw.select(
        F.to_date("Date", "M/d/yyyy").alias("Date"),
        F.col("AAPL").cast("double"),
        F.col("MSFT").cast("double"),
        F.col("C").cast("double"),
    )


# ---------------------------------------------------------------------------
# Sinks.
# ---------------------------------------------------------------------------

def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by=None,
    max_records_per_file: Optional[int] = None,
) -> None:
    """Write a (partitioned) table.

    ``partition_by`` is the scale lever: partitioning tick data by
    date/ticker prunes whole directories at read time (PartitionFilters in
    the scan), which is the difference between touching one day and touching
    100 TB. ``max_records_per_file`` caps file size so downstream scans
    parallelize regardless of writer parallelism.
    """
    w = df.write.format(fmt).mode(mode)
    if partition_by:
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        w = w.partitionBy(*cols)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    w.save(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: Optional[str] = None,
    max_records_per_file: Optional[int] = None,
) -> None:
    """Write a table as JSON Lines — the interchange format LLM corpora
    ship in (one JSON object per line; gzip/zstd splittable-enough when
    written as many files).

    ``max_records_per_file`` keeps individual .jsonl files bounded so a
    re-read parallelizes regardless of writer parallelism — the same
    small-files/giant-files lever as the parquet writer.
    """
    w = df.write.format("json").mode(mode)
    if compression:
        w = w.option("compression", compression)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    w.save(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Read JSON Lines. ALWAYS pass ``schema`` in production: without it
    Spark runs a full extra pass over the data just to infer types — at
    100 TB that is a second 100 TB scan before the first real job, and
    inference can also silently widen/narrow types between runs. With an
    explicit schema the read is a single streaming-decode scan and
    malformed lines land in ``_corrupt_record`` instead of failing type
    inference."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: Optional[str] = None,
    max_records_per_file: Optional[int] = None,
) -> None:
    """Write a table as quoted CSV with escaping that survives embedded
    newlines, quotes, and unicode (quote-doubling, the RFC 4180 dialect) —
    the lowest-common-denominator export every downstream consumer can
    read. Re-reading a multiline CSV cannot split a file across tasks
    (records cross line boundaries), so ``max_records_per_file`` is the
    lever that keeps files small enough for read parallelism.
    """
    w = (
        df.write.format("csv")
        .mode(mode)
        .option("header", "true")
        .option("quoteAll", "true")
        .option("escape", '"')  # RFC 4180 quote-doubling
        # the writer TRIMS cell whitespace by default — byte-exactness
        # requires turning that off explicitly
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
    )
    if compression:
        w = w.option("compression", compression)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    w.save(path)


def read_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """Read CSV written by :func:`write_csv`. ALWAYS pass ``schema`` in
    production (same one-extra-full-scan inference trap as
    :func:`read_jsonl`); ``multiLine`` honors quoted embedded newlines."""
    r = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("quote", '"')
        .option("escape", '"')
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
    )
    if schema is not None:
        r = r.schema(schema)
    return r.csv(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    max_records_per_file: Optional[int] = None,
) -> None:
    """Write ORC — the other columnar interchange format (Hive/Trino
    ecosystems); same pushdown/pruning properties as parquet from Spark's
    side, so it's a drop-in sink where the consumer dictates ORC."""
    w = df.write.format("orc").mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    w.save(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read ORC (schema travels with the file — no inference pass)."""
    return spark.read.orc(path)


def write_bucketed_table(
    df: "DataFrame",
    table: str,
    key: str,
    n_buckets: int = 8,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) managed table —
    Spark's co-located-join layout: two tables bucketed by the same key
    into the same bucket count join with NO exchange on either side (and
    with ``sortBy``, no sort either — the sort-merge join reads both
    sides' buckets pre-sorted). This is the layout decision that removes
    the dominant shuffle from every future join at 100 TB fact-table
    scale; the write pays one up-front shuffle.

    tests/test_plans.py pins the exchange-free join plan.
    """
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    # a stale warehouse directory from a previous session is not in this
    # session's catalog, so mode("overwrite") cannot claim it — drop both
    # the table entry and the location
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse"))
    loc = os.path.join(wh.path or wh.netloc, table.lower())
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)
    w = df.write.mode("overwrite").format("parquet").bucketBy(int(n_buckets), key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)
