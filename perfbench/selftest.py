"""The benchmark's own test, at sf0.001. Run from the repository root:

    python3 perfbench/selftest.py

1. An untraced run prints every end-to-end metric of BENCHMARK.json and the
   informational ones (tail, peak RSS, error_rate) with their units, and its
   oracle check passes.
2. A traced run prints every per-layer metric with its unit, and the same
   end-to-end names as the untraced run.
3. A run whose ``to_returns`` is wrapped to drop one row reports a failure
   and a non-zero ``error_rate``.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
ARGS = ["--workload", "tick_eod", "--seconds", "1", "--sf", "0.001"]
LINE = re.compile(r"^(metric|layer) (\S+) (\S+) (\S+)")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse(stdout: str):
    lines = stdout.strip().splitlines()
    result = json.loads(lines[-1])
    printed = {}
    for line in lines[:-1]:
        m = LINE.match(line)
        if m:
            printed[(m.group(1), m.group(2))] = (float(m.group(3)), m.group(4))
    return result, printed


def run_cli(*extra):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *ARGS, *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return parse(proc.stdout)


def check(cond, msg):
    if not cond:
        raise AssertionError(msg)
    print(f"ok   {msg}")


def names_with_units(metrics):
    return {m["name"]: m["unit"] for m in metrics}


def main() -> int:
    sys.path.insert(0, HERE)
    import run

    bench = spec()
    e2e = names_with_units(bench["end_to_end"])
    layers = names_with_units(bench["per_layer"])

    result, printed = run_cli("--seed", "3", "--trace", "0")
    check(result["correct"] and result["failed"] == 0, "untraced run passes its oracle check")
    check(
        {k: v["unit"] for k, v in result["metrics"].items()} == e2e,
        "untraced JSON carries every end-to-end metric with its unit",
    )
    untraced_names = {n for kind, n in printed if kind == "metric"}
    check(
        all(printed[("metric", n)][1] == u for n, u in {**e2e, **run.INFO_UNITS}.items())
        and printed[("metric", "error_rate")] == (0.0, "ratio"),
        "untraced run prints every end-to-end name with its unit, error_rate 0",
    )

    result, printed = run_cli("--seed", "3", "--trace", "1")
    check(result["correct"], "traced run passes its oracle check")
    check(
        {k: v["unit"] for k, v in result["metrics"].items()} == layers,
        "traced JSON carries every per-layer metric with its unit",
    )
    check(
        all(printed[("layer", n)][1] == u for n, u in layers.items()),
        "traced run prints every per-layer name with its unit",
    )
    check(
        {n for kind, n in printed if kind == "metric"} == untraced_names,
        "traced and untraced runs print the same end-to-end names",
    )

    # in-process, so the catalog entry can be wrapped
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    from ffn_polars_spark import queries

    original = queries.QUERY_FNS["to_returns"]

    def drop_one_row(spark, sf_dir):
        df = original(spark, sf_dir)
        return df.limit(df.count() - 1)

    queries.QUERY_FNS["to_returns"] = drop_one_row
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        code = run.main([*ARGS, "--seed", "3", "--trace", "0"])
    result, printed = parse(out.getvalue())
    check(code == 0 and not result["correct"] and result["failed"] >= 1,
          "a result missing one row fails the oracle check")
    check(printed[("metric", "error_rate")][0] > 0, "and raises error_rate")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
