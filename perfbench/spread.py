"""Run-to-run spread of the end-to-end metrics. From the repository root:

    python3 perfbench/spread.py WORKLOAD SEED [SEED ...]

Runs ``run.py --trace 0`` once per seed, one after another, keeps each run's output under
``.perfbench_work/spread/``, and prints each
metric's median and its interquartile range as a share of the median (the
spread BENCHMARK.json's bounds are checked against).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
LOGS = os.path.join(".perfbench_work", "spread")


def main(argv) -> int:
    if len(argv) < 3:
        print(__doc__)
        return 2
    workload, seeds = argv[1], argv[2:]
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    values = {m["name"]: [] for m in bench["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    walls = []
    for seed in seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", seed, "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True, timeout=600,
        )
        walls.append(time.perf_counter() - t0)
        if proc.returncode != 0:
            print(proc.stderr[-3000:])
            return 1
        os.makedirs(LOGS, exist_ok=True)
        with open(os.path.join(LOGS, f"{workload}-seed{seed}.out"), "w") as f:
            f.write(proc.stdout)
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        row = {k: v["value"] for k, v in result["metrics"].items()}
        print(f"seed {seed} wall {walls[-1]:.1f}s correct {result['correct']} "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
        for k in values:
            values[k].append(row[k])
    for k, vs in values.items():
        med = statistics.median(vs)
        line = f"{k}: median {med:.4g}"
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            line += f" spread {(q3 - q1) / med:.3f} (bound {bounds[k]}, a third {bounds[k] / 3:.3f})"
        print(line)
    print(f"run wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
