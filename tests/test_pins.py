"""The pin registry (ffn_polars_spark/pins.py): every cache the library
takes is tracked there and freed by ``release_pins()``."""

import ast
import os

import pytest
from pyspark.sql import functions as F

from ffn_polars_spark.pins import release_pins

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "ffn_polars_spark"
)

# (module, function) sites allowed to cache outside pins.py: each frees its
# cache before it returns (per-round checkpoints and the edge/node frames)
_SELF_RELEASING = {
    ("operators/graph.py", "pagerank"),
    ("operators/dedup.py", "connected_components"),
}
_CACHE_CALLS = {"persist", "cache", "localCheckpoint"}
_RELEASE_CALLS = {"unpersist", "release_checkpoint"}


def _calls_by_function(path):
    """{top-level def/class name, or "<module>": names it calls} for one
    module (nested defs count toward their parent)."""
    out = {}
    for stmt in ast.parse(open(path).read()).body:
        names = out.setdefault(getattr(stmt, "name", "<module>"), set())
        for node in ast.walk(stmt):
            if isinstance(node, ast.Call):
                f = node.func
                names.add(getattr(f, "attr", None) or getattr(f, "id", ""))
    return out


def test_library_caches_only_through_pins():
    """Outside pins.py, library code calls .persist/.cache/.localCheckpoint
    only at the named sites, and each of those releases its cache before
    returning; every other cache goes through pins.pin and is tracked for
    release_pins()."""
    found = set()
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            if not name.endswith(".py") or rel == "pins.py":
                continue
            for fn, calls in _calls_by_function(path).items():
                if calls & _CACHE_CALLS:
                    found.add((rel, fn))
                    if (rel, fn) in _SELF_RELEASING:
                        assert calls & _RELEASE_CALLS, f"{rel}:{fn} never releases"
    assert found <= _SELF_RELEASING, sorted(found - _SELF_RELEASING)


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_release_pins_empties_the_cache(spark):
    """After one call each of ks_drift, zipf_slope (both on
    core.ranged_cumsum) and a pin user (tfidf_topterms), release_pins()
    leaves no cache entry and no persisted RDD behind."""
    from ffn_polars_spark.operators.quality import ks_drift
    from ffn_polars_spark.operators.text import tfidf_topterms, zipf_slope

    release_pins()
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    vals = spark.range(200).select(
        (F.col("id") % 37).cast("double").alias("v"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("side"),
    )
    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i % 5} gamma w{i % 3}") for i in range(40)],
        ["doc_id", "text"],
    )
    ks_drift(vals, "v", "side", "a", "b").collect()
    zipf_slope(docs).collect()
    tfidf_topterms(docs).collect()
    release_pins()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _persistent_rdd_ids(spark) - before == set()


def test_ranged_cumsum_rerun_after_release_raises(spark):
    """A ranged_cumsum frame re-executed after its pin is gone, over range
    partitions that differ from the ones its totals saw, raises: the
    offsets are driver literals keyed by the partition id, so without the
    row-count guard it would return wrong running sums silently."""
    from ffn_polars_spark.core import ranged_cumsum

    release_pins()
    src = spark.range(20_000, numPartitions=4).select(
        (F.col("id") * 1_000_003 % 20_011).alias("k")
    )
    # the re-run plans its range repartition with the session's partition
    # count: 8 partitions first, 3 on the re-run (AQE coalescing off, or it
    # could merge both into one partition)
    confs = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        rc = ranged_cumsum(src, ["k"], {"c": F.lit(1)})
        first = sorted(rc.collect())
        assert [r.c for r in first] == list(range(1, 20_001))
        # while pinned, a new plan over the frame reads the cached partitions
        assert sorted(rc.select("*").collect()) == first
        release_pins()
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        with pytest.raises(Exception, match="ranged_cumsum: re-executed"):
            rc.select("*").collect()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
