"""Warm queries reuse their generated classes.

Spark caches the classes whole-stage codegen compiles in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries, a static conf, so the check
runs in a fresh session built by ``get_spark`` in a subprocess. The
benchmark's query mix is run twice; the second round must compile nothing.
At Spark's default of 100 entries the mix evicts every class before its
reuse and the second round compiles about as much as the first.
"""

import json
import os
import subprocess
import sys

import pytest

from tests.conftest import TESTDATA

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ROUNDS = r"""
import json, os, sys
root, sf_dir = sys.argv[1:3]
sys.path[:0] = [root, os.path.join(root, "perfbench")]
from workloads import WORKLOADS
from ffn_polars_spark.queries import QUERY_FNS
from ffn_polars_spark.sources import get_spark

spark = get_spark("codegen-cache-test", cpus=2)
spark.sparkContext.setLogLevel("ERROR")
compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
queries = [q for w in WORKLOADS.values() for q in w.queries]
rounds = []
for _ in range(2):
    before = compiles.getCount()
    per_query = {}
    for q in queries:
        c = compiles.getCount()
        QUERY_FNS[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
        per_query[q] = compiles.getCount() - c
    rounds.append({"total": compiles.getCount() - before, "per_query": per_query})
spark.stop()
print("ROUNDS " + json.dumps(rounds))
"""


def test_second_round_of_benchmark_queries_compiles_nothing():
    sf_dir = os.path.join(TESTDATA, "sf0.001")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"no testdata at {sf_dir}")
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", ROUNDS, ROOT, sf_dir],
        capture_output=True, text=True, env=env, timeout=900,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("ROUNDS ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    first, second = json.loads(lines[-1][len("ROUNDS "):])
    # the counter counts, and the mix needs more classes than Spark's default
    assert first["total"] > 100, first
    recompiled = {q: n for q, n in second["per_query"].items() if n}
    assert second["total"] == 0, f"warm round recompiled: {recompiled}"
