"""Degenerate hot-bucket memory probe (r14, verdict #3 evidence).

k IDENTICAL documents make every LSH band bucket hold the whole corpus —
the boilerplate skew a 100 TB crawl corpus produces. With ``max_bucket``
set, the r13 group_pairs shape still collect_list'd the full bucket
id-list into one ObjectHashAggregate buffer *before* filtering (an
unspillable single allocation, O(corpus) per bucket); the r14 shape
window-counts and drops the bucket before anything collects, and the
window's row buffer spills to disk.

Run under a SMALL driver heap (local mode: driver == executor) so the
difference shows as OOM-vs-completes rather than a profiler number:

    python tools/hot_bucket_probe.py [k_docs] [max_bucket] [heap] [bands]

defaults: 6_000_000 docs, cap 1000, 1g heap, 4 bands. Prints one line:
``rows=<n> expected=<n> wall=<s> ...``; the r13 shape instead dies with
java.lang.OutOfMemoryError / SparkOutOfMemoryError inside the
collect_list stage.

The docs are identical, so every band bucket holds all k of them: a cap
below k drops every bucket (0 rows), and any other cap keeps every pair
(k·(k−1)/2 rows, all at Jaccard 1.0). The probe exits nonzero when the
row count differs from that.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 6_000_000
    cap = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    heap = sys.argv[3] if len(sys.argv) > 3 else "1g"
    bands = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    from pyspark.sql import functions as F

    from ffn_polars_spark.sources import get_spark

    os.environ["SPARK_DRIVER_MEMORY"] = heap
    spark = get_spark("hot-bucket-probe", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    import ffn_polars_spark.operators.dedup as D
    from ffn_polars_spark.pins import release_pins

    docs = spark.range(k).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha bravo charlie delta echo foxtrot golf hotel").alias("text"),
    )
    t0 = time.time()
    out = D.dedup_minhash_lsh(
        docs, threshold=0.5, bands=bands, max_bucket=cap, hash_fn="xxhash64"
    )
    n = out.count()
    release_pins()
    expected = 0 if cap < k else k * (k - 1) // 2
    print(
        f"rows={n} expected={expected} wall={time.time() - t0:.1f}s "
        f"k={k} cap={cap} heap={heap}"
    )
    if n != expected:
        sys.exit(f"hot_bucket_probe: got {n} rows, expected {expected}")


if __name__ == "__main__":
    main()
