"""Seeded, oracle-checked workload benchmark for the ffn_polars_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload tick_eod --seed 7 --seconds 17 --trace 0

One run: build the workload's tables from the seed (cached under
``.perfbench_work/``), digest every query's DuckDB oracle result, start a
local[nproc] session, run one cold pass that checks every query's result
against its oracle, then time whole passes over the query mix (their
number is fixed per workload from ``--seconds``). Each query is one
closed-loop call (one client, one query at a time) materialised through the
``noop`` sink. ``setup_s`` is the run's one session start-up: a second
start-up would cost as much as the timed passes, and the run has to fit a
budget of about a minute.

Every time reported is a ``clock.Lap.unstolen`` time (the wall time with
the CPU time the host stole from this machine during it taken out) scaled
by the run's ``clock.Canary`` to a machine of a fixed speed. The raw wall
times print beside them.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics of
``tracer.py``. Human-readable lines come first; the last stdout line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from clock import Canary, Lap, lap  # noqa: E402
from workloads import LAYER_MAP, WORKLOADS  # noqa: E402

# The cold oracle-check pass is the only warm-up pass. Measured on 4 vCPUs,
# the driver JVM's CPU per pass still falls by a third over the next four
# passes as the JIT compiles, which the per-query minima over the timed
# passes leave out: over ten runs of tick_eod, one untimed and three timed
# passes spread no less than four timed ones, at the same cost.
MIN_PASSES = 2

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
}
# printed beside them but left out of the JSON (see run())
INFO_UNITS = {
    "query_p50_s": "s",
    "query_tail_s": "s",
    "peak_rss_mb": "MB",
    "error_rate": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's scale factor (self-test)")
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def stage_stream_dir(sf_dir: str, table: str, prefix: str) -> str:
    """The catalog's stream staging (a directory holding a symlink to one
    table file), rooted in the run's scratch directory instead of /tmp."""
    src = os.path.join(os.path.normpath(sf_dir), f"{table}.parquet")
    key = hashlib.md5(src.encode()).hexdigest()[:10]
    stage = os.path.join(tempfile.gettempdir(), f"{prefix}_{key}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return stage


class Counts:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def fail(self, query: str, what: str) -> None:
        self.failed += 1
        log(f"FAIL {query}: {what}")


def check_pass(spark, queries, sf_dir, pool):
    """Cold first pass: collect every result and digest it on ``pool``,
    off the main thread. Untimed; it is also the first warm-up pass.
    Returns {query: digest future, or the traceback the query raised}."""
    from inputs import result_digest

    from ffn_polars_spark.queries import QUERY_FNS

    out = {}
    for q in queries:
        try:
            out[q] = pool.submit(result_digest, QUERY_FNS[q](spark, sf_dir).toPandas())
        except Exception:  # noqa: BLE001 — a failing query is a data point
            out[q] = traceback.format_exc(limit=3)
    return out


def compare(checked, oracle, counts) -> None:
    for q, got in checked.items():
        counts.attempted += 1
        if isinstance(got, str):
            counts.fail(q, got)
            continue
        got = got.result()
        if got != oracle[q]:
            counts.fail(q, f"result {got} != oracle {oracle[q]}")
        else:
            print(f"check {q} ok rows={got['rows']}")


def timed_pass(queries, run_query, laps, counts, canary) -> Lap:
    """One pass; appends each query's lap to ``laps[query]``, with a canary
    sample before each query."""
    with lap() as whole:
        for q in queries:
            canary.measure()
            counts.attempted += 1
            try:
                with lap() as t:
                    run_query(q)
            except Exception:  # noqa: BLE001 — a failing query is a data point
                counts.fail(q, traceback.format_exc(limit=3))
                continue
            laps[q].append(t)
    return whole


def tail(latencies):
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(latencies)
    r = max(0, len(s) - 11)
    return s[r], 100.0 * (r + 1) / len(s)


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def reset_peak_rss(pid: int) -> None:
    """Restart the kernel's VmHWM count (clear_refs value 5)."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError("VmHWM missing from /proc status")


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def run(args, root: str, work: str) -> dict:
    import inputs as inp
    from session import cpu_count, start_session, stop_session

    wl = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else wl.sf
    clock = time.perf_counter()

    def phase_done(name):
        nonlocal clock
        now = time.perf_counter()
        print(f"phase {name} {now - clock:.2f} s")
        clock = now

    data = inp.ensure_inputs(root, work, sf, args.seed)
    print("inputs " + json.dumps({"sf": sf, "seed": args.seed, **data}))
    phase_done("inputs")
    sf_dir = data["dir"]

    import ffn_polars_spark.queries as catalog
    from ffn_polars_spark.queries import QUERY_FNS

    catalog._stage_stream_dir = stage_stream_dir
    n_passes = max(MIN_PASSES, round(args.seconds / wl.nominal_pass_s))
    print(f"warmup_passes 1 (the oracle-check pass); timed passes {n_passes}")
    cores = cpu_count()
    counts = Counts()
    laps = {q: [] for q in wl.queries}
    pass_laps, traced_laps, pass_rss = [], [], []

    with lap() as setup:
        spark = start_session()
    phase_done("setup")
    tracer = None
    try:
        def noop(q):
            QUERY_FNS[q](spark, sf_dir).write.format("noop").mode("overwrite").save()

        if args.trace:
            from tracer import Tracer

            tracer = Tracer(spark, wl.name, cores)
        # the DuckDB oracles and the result digests run on a worker thread
        # during the untimed passes and are compared before the timed ones
        with ThreadPoolExecutor(max_workers=1) as pool:
            oracle = pool.submit(inp.oracle_digests, work, data, wl.queries)
            checked = check_pass(spark, wl.queries, sf_dir, pool)
            phase_done("check")
            compare(checked, oracle.result(), counts)
        # peak RSS per warm pass (the cold pass's JIT and result collection
        # would otherwise set it), reported as the median over the passes
        pid = jvm_pid(spark)
        canary = Canary()
        for i in range(n_passes):
            reset_peak_rss(pid)
            pass_laps.append(timed_pass(wl.queries, noop, laps, counts, canary))
            pass_rss.append(peak_rss_mb(pid))
            if tracer is not None:
                with tracer.traced_pass(i):
                    traced_laps.append(timed_pass(
                        wl.queries, lambda q: tracer.run_query(q, QUERY_FNS[q], sf_dir),
                        {q: [] for q in wl.queries}, counts, canary,
                    ))
        phase_done("timed")
        layers = tracer.per_pass_metrics() if tracer is not None else None
    finally:
        stop_session(spark)
    phase_done("collect+stop")

    for q, ts in laps.items():
        print(f"query {q} (wall, cpu, steal) s " + " ".join(
            f"({t.wall:.3f}, {t.cpu:.2f}, {t.steal:.2f})" for t in ts))
    print("steal during setup {:.2f} s, timed passes {:.2f} s of CPU".format(
        setup.steal, sum(t.steal for t in pass_laps)))
    scale = canary.machine_scale()
    print(f"canary median {statistics.median(canary.samples):.4f} s of"
          f" {len(canary.samples)}; machine scale {scale:.4f}")
    # each query at its fastest timed execution (bench.py's min-of-N)
    best = {q: min(t.unstolen for t in ts) * scale for q, ts in laps.items() if ts}
    raw_best = {q: min(t.wall for t in ts) for q, ts in laps.items() if ts}
    samples = [t.unstolen * scale for ts in laps.values() for t in ts]
    p_tail, pct = tail(samples)
    e2e = {
        "setup_s": setup.unstolen * scale,
        "pass_s": sum(best.values()),
        "query_geomean_s": geomean(best.values()),
        # the INFO_UNITS: the median of 9-10 per-query minima jumps between
        # queries from run to run; with 2-4 passes the "tail" sits at
        # p44-p75; peak RSS moves 20-40% between runs of one workload (heap
        # sizing); error_rate is 0 on a correct run, and correct/failed
        # carry it
        "query_p50_s": statistics.median(best.values()),
        "query_tail_s": p_tail,
        "peak_rss_mb": statistics.median(pass_rss),
        "error_rate": counts.failed / counts.attempted,
    }
    notes = {
        "setup_s": f"session start-up, scaled; raw wall {setup.wall:.3f}",
        "pass_s": f"sum of per-query scaled minima over {n_passes} passes of"
                  f" {len(wl.queries)} queries; raw wall {sum(raw_best.values()):.3f};"
                  f" pass walls {[round(t.wall, 3) for t in pass_laps]}",
        "query_geomean_s": f"geometric mean of {len(best)} per-query scaled minima;"
                           f" raw wall {geomean(raw_best.values()):.4f}",
        "query_p50_s": f"median of {len(best)} per-query scaled minima;"
                       f" raw wall {statistics.median(raw_best.values()):.4f}",
        "query_tail_s": f"p{pct:.0f} of {len(samples)} scaled samples",
        "peak_rss_mb": f"median per-pass driver JVM VmHWM {[round(r) for r in pass_rss]}",
        "error_rate": f"{counts.failed}/{counts.attempted} executions",
    }
    for k, unit in {**E2E_UNITS, **INFO_UNITS}.items():
        print(f"metric {k} {e2e[k]!r} {unit} ({notes[k]})")

    if tracer is None:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    else:
        from tracer import PER_LAYER_UNITS, median_metrics

        med = median_metrics(layers)
        med["driver.peak_rss_mb"] = e2e["peak_rss_mb"]
        med["trace.overhead"] = (statistics.median(t.unstolen for t in traced_laps)
                                 / statistics.median(t.unstolen for t in pass_laps))
        for k, unit in PER_LAYER_UNITS.items():
            print(f"layer {k} {med[k]!r} {unit} (moves {LAYER_MAP[k]})")
        print(f"trace self_time_error_s {tracer.self_time_error()!r}")
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        span_path = os.path.join(
            work, "traces", f"{wl.name}-seed{args.seed}-{os.getpid()}.jsonl"
        )
        tracer.dump(span_path)
        print(f"spans {span_path}")
        metrics = {k: {"value": med[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    return {
        "correct": counts.failed == 0,
        "attempted": counts.attempted,
        "failed": counts.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (
        os.path.isdir(os.path.join(root, "ffn_polars_spark"))
        and os.path.isfile(os.path.join(root, "tools", "gen_testdata.py"))
    ):
        log("run from the repository root: ffn_polars_spark/ and tools/ are missing")
        return 2
    if not math.isfinite(args.seconds) or args.seconds <= 0:
        log("--seconds must be positive")
        return 2
    work = os.path.join(root, ".perfbench_work")
    tmp = os.path.join(work, "tmp", f"run-{os.getpid()}")

    from session import hermetic_env

    hermetic_env(root, tmp, bool(args.trace))
    sys.path[:0] = [root, os.path.join(root, "tools")]
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
