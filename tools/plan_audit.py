"""Plan audit: flag duplicated expensive interpreted expressions per query.

Round 8 found three instances of one pathology class: an expensive
interpreted expression (regex tokenize, HOF fold, Python UDF argument)
appearing MANY times in a physical plan because Catalyst neither
common-subexpression-eliminates inside lambda bodies nor collapses
projections whose aliases are referenced more than once — clean_corpus
carried 15 copies of the token split, language_id 8, ann_topk_ivf
evaluated its cell-assign UDF (with an O(d²) argument) twice.  This tool
makes that class *auditable*: for every catalog query it walks the physical
plan (``plans.plan_nodes``), counts the occurrences of each
expensive-expression marker in the nodes' own expressions, the Python
evaluation nodes, and the scans of each file location, and prints the
queries whose counts reach a threshold.  The walk stops at cached
relations: a pinned (``pins.pin``) frame's plan ran when the pin filled, and
execution reads the cache.

Usage:
    python tools/plan_audit.py [SF_DIR] [--threshold N] [--only a,b,c]

A flagged query is not automatically wrong — two genuine input scans
legitimately tokenize twice (tfidf's two branches before the r8 pin), and
a `split` on two DIFFERENT columns is two different jobs — but every
flagged row deserves the question "is this the same expression evaluated
more than once per row?".  The plan gates in tests/test_plans.py pin the
fixed shapes; this script is the discovery end of that loop.
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# marker -> expression classes. Each expression node of one of these classes
# in a plan node's own expressions (``Node.expr_classes``) is one site; a
# file scan's data filters count too, as a flag for the Filter they repeat.
MARKERS = {
    "split": ("StringSplit",),
    "regexp": ("RegExpReplace", "RegExpExtract", "RegExpExtractAll"),
    "transform": ("ArrayTransform",),
}
PYTHON_NODES = ("ArrowEvalPythonExec", "BatchEvalPythonExec")

SKIP_PREFIXES = ("streaming_",)  # streams need a sink to plan; skip


def audit(spark, sf_dir: str, names, threshold: int):
    import __spark_entry__ as se

    from ffn_polars_spark.pins import release_pins
    from ffn_polars_spark.plans import plan_nodes

    qs = se.queries()
    flagged = []
    for name, fn in qs.items():
        if names and name not in names:
            continue
        if name.startswith(SKIP_PREFIXES):
            continue
        try:
            nodes = plan_nodes(fn(spark, sf_dir), cached=False)
        except Exception as exc:  # pragma: no cover - diagnostic tool
            print(f"SKIP {name}: {type(exc).__name__}", file=sys.stderr)
            continue
        classes = [c for n in nodes for c in n.expr_classes()]
        counts = {m: sum(c in cs for c in classes) for m, cs in MARKERS.items()}
        # a HOF fold over a per-element transform: the ArrayAggregate whose
        # first child (next in pre-order) is an ArrayTransform
        counts["hof_fold"] = sum(
            a == "ArrayAggregate" and b == "ArrayTransform"
            for a, b in zip(classes, classes[1:])
        )
        counts["python_udf"] = sum(n.name in PYTHON_NODES for n in nodes)
        # rescan detector: the same file location scanned repeatedly in the
        # LIVE plan — a multi-pass shape and a pin candidate when the
        # passes re-derive expensive columns (median/MAD's two passes are
        # legitimate; five scans of documents.parquet rarely are)
        scans = Counter(
            n.jvm.relation().location().rootPaths().mkString(",")
            for n in nodes
            if n.name == "FileSourceScanExec"
        )
        if scans:
            counts["rescan"] = max(scans.values())
        hot = {m: c for m, c in counts.items() if c >= threshold}
        if hot:
            flagged.append((name, hot))
        # release any pins the query creation materialized
        release_pins()
    return flagged


def main() -> None:
    argv = list(sys.argv[1:])
    threshold = 3
    if "--threshold" in argv:
        i = argv.index("--threshold")
        threshold = int(argv[i + 1])
        del argv[i : i + 2]
    names = None
    if "--only" in argv:
        i = argv.index("--only")
        names = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"

    from ffn_polars_spark.sources import configure, get_spark

    spark = get_spark(cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    configure(spark)

    flagged = audit(spark, sf_dir, names, threshold)
    print(f"\n== {len(flagged)} queries with any marker >= {threshold}:")
    for name, hot in sorted(flagged, key=lambda x: -max(x[1].values())):
        desc = ", ".join(f"{m} x{c}" for m, c in sorted(hot.items()))
        print(f"  {name}: {desc}")


if __name__ == "__main__":
    main()
