"""Scale-up bench: time catalog queries at two scale factors and print the
ratio table (docs/scaling.md's "Measured scale-up" evidence).

Usage:
    python tools/scale_bench.py SF_DIR_A SF_DIR_B [query ...]

Times each named catalog query (default: the headline bench set) at both
directories, min-of-RUNS wall-clock including the action (count), and prints
a markdown table `| query | A (s) | B (s) | ratio |`.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNS = int(os.environ.get("SCALE_BENCH_RUNS", "3"))

DEFAULT_QUERIES = [
    "dedup_canonical",
    "winnow_overlap_pairs",
    "interval_join",
    "pack_sequences",
    "sim_market_day",
]


def time_query(fn, spark, sf_dir: str) -> float:
    best = float("inf")
    for _ in range(RUNS):
        t0 = time.time()
        fn(spark, sf_dir).count()
        best = min(best, time.time() - t0)
    return best


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    dir_a, dir_b = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or DEFAULT_QUERIES

    from ffn_polars_spark.sources import get_spark

    import __spark_entry__ as entry

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    print(f"| query | {dir_a.rsplit('/', 1)[-1]} (s) | "
          f"{dir_b.rsplit('/', 1)[-1]} (s) | ratio |")
    print("|---|---|---|---|")
    for name in names:
        fn = qs[name]
        # warm both scans once so I/O cache state is comparable
        fn(spark, dir_a).count()
        a = time_query(fn, spark, dir_a)
        b = time_query(fn, spark, dir_b)
        print(f"| {name} | {a:.2f} | {b:.2f} | {b / a:.1f} |", flush=True)


if __name__ == "__main__":
    main()
