"""Data sources: session builder, testdata loaders, golden-CSV reader.

The reference's only scan is ``pl.read_csv`` in its test fixture
(tests/fixtures.py:11); Spark gives us Parquet/CSV/JSON plus predicate
pushdown and column pruning for free, so the engine standardizes on these
helpers for all I/O.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import json
import os
import shlex
import shutil
import subprocess
import warnings
from glob import escape, glob
from typing import Optional, Tuple

from py4j.protocol import Py4JError, Py4JJavaError
from pyspark import SparkContext
from pyspark.errors import AnalysisException
from pyspark.find_spark_home import _find_spark_home
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

# Where ``get_spark`` records how its driver JVM used the class archive:
# ``load <path>`` (the JVM mapped it), ``dump <path>`` (this process writes
# it when it exits) or ``off: <reason>``. The JVM loads ~17,000 classes for
# a session's first job, 1,228 of them from the JDK's own archive; a
# dynamic AppCDS archive of the rest nearly halves the start-up
# (docs/tuning.md, "Driver JVM class archive").
JVM_CLASS_ARCHIVE_CONF = "spark.ffn.jvmClassArchive"
# The first bytes of a dynamic CDS archive (JDK 13+); a JVM killed while
# writing one leaves them zero.
_DYNAMIC_ARCHIVE_MAGIC = (0xF00BABA8).to_bytes(4, "little")
# CDS warnings go to the JVM's stdout, which is this process's stdout.
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"
# The program that loads a session's classes in the JVM that archives them,
# and the main class that ends the session JVM's options.
_LOAD_CLASSES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "LoadClasses.java")
_SPARK_SUBMIT_MAIN = "org.apache.spark.deploy.SparkSubmit"
# Loading the classes and writing the archive take that JVM 20-45 s on 4 vCPUs.
_DUMP_WAIT_S = 120
# Environment that spark-submit adds to the driver's classpath. The JVM
# archives no class from a non-empty classpath directory (it exits with
# code 2 instead), and an archive taken with one classpath is refused
# under another.
_CLASSPATH_ENV = ("SPARK_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_DRIVER_SUBMIT_ARGS = (
    "--driver-java-options", "--driver-class-path",
    "spark.driver.extraJavaOptions", "spark.driver.extraClassPath",
)


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


def _archive_key(java: str, spark_home: str, conf_dir: str) -> str:
    """Hash of what the archive was taken from: the java binary, Spark's
    jars and the classpath's conf directory. A changed install gets a new
    archive, where the JVM would refuse the old one at every start."""
    java = os.path.realpath(java)
    h = hashlib.sha256(
        f"{java} {os.stat(java).st_mtime_ns} {os.path.realpath(spark_home)} {conf_dir}".encode()
    )
    for e in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
        st = e.stat()
        h.update(f"\0{e.name} {st.st_size} {st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _beside(archive: str, suffix: str) -> str:
    """A file next to ``archive``: ``<key>.size``, the size it was written
    with, or a file of process ``pid``, which writes the archive:
    ``<key>.<pid>.classlist``, the classes its driver JVM loaded, and
    ``<key>.<pid>.part``, the archive before ``pid`` renames it."""
    return archive[: -len(".jsa")] + suffix


def _whole_archive(archive: str) -> bool:
    """Whether ``archive`` is whole: it starts with the archive magic and
    has the size recorded beside it when it was moved into place. A JVM
    ignores an archive with a zeroed header, but one that maps a truncated
    archive dies of SIGBUS."""
    try:
        with open(archive, "rb") as f:
            magic = f.read(4)
            size = f.seek(0, os.SEEK_END)
        with open(_beside(archive, ".size")) as f:
            return magic == _DYNAMIC_ARCHIVE_MAGIC and int(f.read()) == size
    except (OSError, ValueError):
        return False


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _class_archive(spark_home: str) -> Tuple[str, Optional[str], Optional[str]]:
    """How a driver JVM about to launch uses the class archive:
    ``(record, driver Java options, SPARK_CONF_DIR for the launch)``, the
    last two None when it runs without one (``JVM_CLASS_ARCHIVE_CONF``).
    Without an archive, the JVM lists the classes it loads, and this
    process writes the archive from the list when it exits
    (``_stop_jvm_at_exit``): a JVM that writes one as it exits itself
    starts ~4 s slower."""
    if not os.path.exists("/proc/self/maps"):
        return "off: no /proc to show the files the JVM maps", None, None
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    for arg in _DRIVER_SUBMIT_ARGS:
        if arg in submit:
            return f"off: PYSPARK_SUBMIT_ARGS sets {arg}", None, None
    for var in _CLASSPATH_ENV:
        if os.environ.get(var):
            return f"off: {var} adds to the driver classpath", None, None
    # spark-submit puts the conf directory first on the classpath; Spark
    # reads none of the *.template files a distribution ships there, so an
    # empty directory stands in for it at the launch
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and not all(n.endswith(".template") for n in os.listdir(conf_dir)):
        return f"off: {conf_dir} holds more than templates (a classpath directory)", None, None
    java_home = os.environ.get("JAVA_HOME")  # spark-class's choice of java
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return "off: no java binary found", None, None
    cache = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(cache):
        cache = os.path.join(os.path.expanduser("~"), ".cache")
    cache = os.path.join(cache, "ffn_polars_spark", "jvm")
    empty_conf = os.path.join(cache, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        archive = os.path.join(cache, _archive_key(java, spark_home, empty_conf) + ".jsa")
        if _whole_archive(archive):
            # quoted: spark-submit splits the options as a shell would
            option = shlex.quote(f"-XX:SharedArchiveFile={archive}")
            return f"load {archive}", f"{_CDS_QUIET} {option}", empty_conf
        for mine in glob(escape(_beside(archive, "")) + ".*.*"):
            pid = int(mine.split(".")[-2])
            if _alive(pid):
                return f"off: process {pid} is writing {archive}", None, None
            os.remove(mine)
        if not os.access(cache, os.W_OK):
            return f"off: {cache} is not writable", None, None
    except (OSError, ValueError) as e:
        return f"off: {e}", None, None
    javac = os.path.join(os.path.dirname(os.path.realpath(java)), "javac")
    if not os.path.isfile(javac):
        return f"off: no {javac} to run {os.path.basename(_LOAD_CLASSES)}", None, None
    option = shlex.quote(f"-XX:DumpLoadedClassList={_beside(archive, f'.{os.getpid()}.classlist')}")
    return f"dump {archive}", f"{_CDS_QUIET} {option}", empty_conf


def _launched_class_archive(record: str, pid: int) -> Tuple[str, Optional[list]]:
    """The record of the driver JVM ``pid`` once it has started, from the
    files it maps, and the command that writes the archive when the record
    is ``dump``. The JVM may refuse an archive silently (``-Xshare:off`` in
    ``JAVA_TOOL_OPTIONS``, say), and writes one only on top of the JDK's."""
    mode, _, archive = record.partition(" ")
    if mode not in ("load", "dump"):
        return record, None
    classlist = _beside(archive, f".{os.getpid()}.classlist")
    try:
        with open(f"/proc/{pid}/maps") as f:  # the path, spaces and all, is the 6th field
            mapped = {ln.split(None, 5)[5] for ln in f.read().splitlines() if ln.endswith(".jsa")}
        with open(f"/proc/{pid}/cmdline") as f:
            argv = f.read().split("\0")[:-1]
        main = argv.index(_SPARK_SUBMIT_MAIN)
    except (OSError, ValueError) as e:
        record = f"off: {e}"
    else:
        if mode == "load":
            return (record if archive in mapped else f"off: the JVM did not map {archive}"), None
        if mapped:
            # the session JVM's own options, so that its next launch accepts the archive
            options = [a for a in argv[1:main] if not a.startswith("-XX:DumpLoadedClassList=")]
            part = _beside(archive, f".{os.getpid()}.part")
            return record, [argv[0], *options, f"-XX:ArchiveClassesAtExit={part}", _LOAD_CLASSES, classlist]
        record = "off: the JVM maps no CDS archive to write one on top of"
    with contextlib.suppress(OSError):
        os.remove(classlist)
    return record, None


def _write_class_archive(archive: str, writer: list) -> None:
    """Run ``writer``, a JVM that loads the classes of this process's
    session and archives them as it exits, then move the archive into place,
    and only whole: a JVM that maps a truncated archive dies of SIGBUS. The
    archives of other keys (an install since changed) go with it."""
    mine = [_beside(archive, f".{os.getpid()}.{s}") for s in ("classlist", "part")]
    try:
        done = subprocess.run(
            writer, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=_DUMP_WAIT_S,
        ).returncode == 0
        if done:
            with open(_beside(archive, ".size"), "w") as f:
                f.write(str(os.path.getsize(mine[1])))
            os.replace(mine[1], archive)
            _drop_other_archives(archive)
    except (OSError, subprocess.TimeoutExpired):
        pass
    for path in mine:
        with contextlib.suppress(OSError):
            os.remove(path)


def _drop_other_archives(archive: str) -> None:
    """Remove the cache directory's other archives and the files beside
    them, but not the files of a live writer."""
    cache, name = os.path.split(archive)
    keep = {name, os.path.basename(_beside(archive, ".size"))}
    for entry in os.scandir(cache):
        parts = entry.name.split(".")
        if entry.name in keep or parts[-1] not in ("jsa", "size", "classlist", "part"):
            continue
        if len(parts) == 3 and parts[1].isdigit() and _alive(int(parts[1])):
            continue
        with contextlib.suppress(OSError):
            os.remove(entry.path)


def _stop_jvm_at_exit(proc: subprocess.Popen, record: str, writer: Optional[list]) -> None:
    """Close the driver JVM's stdin, on which it exits, and wait for it, so
    that it does not outlive this process; then, for a ``dump`` record,
    write the archive from the classes the JVM loaded."""
    if proc.poll() is None:
        sc = SparkContext._active_spark_context
        # stopped first, its accumulator server does not report the JVM's exit
        if sc is not None:
            with contextlib.suppress(Py4JError):
                sc.stop()
        try:
            proc.stdin.close()
            proc.wait(timeout=_DUMP_WAIT_S)
        except (OSError, subprocess.TimeoutExpired):
            return
    if writer is not None:
        _write_class_archive(record[len("dump "):], writer)


def get_spark(app_name: str = "ffn-polars-spark", cpus: Optional[int] = None) -> SparkSession:
    """Local session tuned for the test/bench environment.

    On a real cluster these settings come from spark-submit; the knobs that
    matter at scale are set the same way here: AQE on (runtime re-plan, skew
    join handling), Arrow on (every pandas_udf boundary is Arrow-batched),
    shuffle partitions sized to the parallelism.

    A driver JVM that this call launches loads its classes from a class
    archive in ``$XDG_CACHE_HOME/ffn_polars_spark/jvm``, which the first
    process without one writes as it exits; ``spark.ffn.jvmClassArchive``
    records how (``JVM_CLASS_ARCHIVE_CONF``). The JVM exits, and is waited
    for, when this process does.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # The worker daemon (PYTHON_DAEMON_MODULE) starts as `python -m`, so its
    # interpreter must find this package before any task adds a path: the
    # JVM, launched below, passes its PYTHONPATH on to the daemon.
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in map(os.path.abspath, paths):
        os.environ["PYTHONPATH"] = os.pathsep.join([root] + paths)
    gateway = SparkContext._gateway
    launch = gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    if launch:
        record, java_options, conf_dir = _class_archive(_find_spark_home())
    else:
        # an earlier call of this process launched the JVM, or someone else did
        record = (gateway.__dict__.get("ffn_class_archive") if gateway else None) or (
            "off: the driver JVM was already running"
        )
        java_options = conf_dir = None
    builder = (
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
    )
    if java_options:
        builder = builder.config("spark.driver.extraJavaOptions", java_options)
    saved_conf_dir = os.environ.get("SPARK_CONF_DIR")
    if conf_dir:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        session = builder.getOrCreate()
    finally:
        if saved_conf_dir is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved_conf_dir
    if launch:
        gateway = SparkContext._gateway
        record, writer = _launched_class_archive(record, gateway.proc.pid)
        gateway.ffn_class_archive = record
        atexit.register(_stop_jvm_at_exit, gateway.proc, record, writer)
    session.conf.set(JVM_CLASS_ARCHIVE_CONF, record)
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
