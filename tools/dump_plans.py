"""Dump ``explain("formatted")`` for named catalog queries to plans/<round>/.

Usage: python tools/dump_plans.py <round_dir> <suffix> [query ...]

  round_dir  e.g. r13  (written under /root/repo/plans/<round_dir>/)
  suffix     e.g. before | after  (file name: <query>_<suffix>.txt)
  query ...  catalog names; defaults to the bench HEADLINE set.

The judge reads these files against the claims in OPTIMIZATION_r*.md, so
they must be produced at the tree being claimed — regenerate at the final
commit of an optimization round.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ffn_polars_spark.sources import get_spark


def main() -> None:
    round_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    if not names:
        from bench import HEADLINE

        names = list(HEADLINE)

    from ffn_polars_spark.queries import QUERY_FNS
    from ffn_polars_spark.pins import release_pins

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark()
    for name in names:
        df = QUERY_FNS[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        release_pins()
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
