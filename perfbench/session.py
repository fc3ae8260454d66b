"""Hermetic Spark session start-up and shutdown for the benchmark.

Every file Spark, the JVM and the Python workers create goes under one
scratch directory inside the checkout, which the run removes at the end.
"""

from __future__ import annotations

import os
import shlex


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def hermetic_env(root: str, tmp: str, trace: bool) -> None:
    """Environment for this process, its JVM and its Python workers; set
    before pyspark launches the JVM. Children inherit it."""
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }
    if trace:
        confs.update({
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        })
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    # every JVM, the spark-submit launcher included: no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the Python workers unpickle Arrow kernels by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_UI"] = "true" if trace else "false"
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    import tempfile

    tempfile.tempdir = None


def start_session():
    """``get_spark`` on every core plus the codegen and Python-worker
    warm-up."""
    from ffn_polars_spark.sources import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(app_name="ffn-perfbench", cpus=cpu_count())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(200_000, numPartitions=cpu_count()).select(
        (F.col("id") % 7).alias("k"), "id"
    ).groupBy("k").agg(F.sum("id")).write.format("noop").mode("overwrite").save()

    @F.pandas_udf("long")
    def _warm(x):
        return x

    # one worker: the daemon is up and the worker imports are warm; the
    # untimed check pass starts the rest
    spark.range(1000, numPartitions=1).select(
        _warm(F.col("id"))
    ).write.format("noop").mode("overwrite").save()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
