"""Headline benchmark: representative engine queries at SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[SPARK_GRAFT_CPUS].

The LAST line of stdout is the compact headline JSON the driver parses:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "queries_median": {...},
   "runs": N}
Diagnostics (per-stage breakdowns of the 3 slowest queries) print on their
own earlier stdout lines so the headline line stays under the driver's
~2000-char tail capture.

Each query is materialized through the noop sink (full execution, no driver
collect). The set spans the engine's plan shapes: scan+agg, multi-join,
window top-k, partitioned window series, window+agg two-phase, as-of join,
MinHash dedup, ANN top-k, sessionization, distributed bootstrap.

Methodology (variance robustness): each query runs SPARK_GRAFT_BENCH_RUNS
times (default 5), interleaved (full pass 1, pass 2, ...) so one of this
box's multi-second slowdown episodes cannot cover all of a query's samples.
``queries``/``value`` report the per-query MIN — the box's noise is strictly
one-sided (episodes make every query uniformly 2-6x slower; back-to-back
identical runs have measured 21s and 63s totals), so the min is the
consistent estimator of true plan cost and agrees run-to-run within ~1.15x
where medians still swing ~1.8x. ``queries_median`` is included as the
noise indicator: median >> min means the run was taken during an episode.
A scan + pandas_udf warmup runs untimed first so the Python-worker spawn
(~5s) never lands in any timed region.

Canary: perfbench's ``clock.Canary`` (~0.024 s of fixed single-threaded
numpy, SHA-256 and Python work that calls no code of the package) runs
before every timed query. It shares nothing with the session, so only the
machine moves it. ``canary_s``/``canary_median_s`` are its min and median;
``value_canary_normalized`` = value * ``Canary.machine_scale()``, that is
value * ``CANARY_REF_S`` (reported as ``canary_baseline_s``) / median
canary, is the mechanically comparable total (see BASELINE.md "Canary
normalization").

Stage attribution: after the timed passes, one untimed pass runs each query
under its own job group; the UI REST API is read once that pass has
settled, and ``queries_task_ms`` sums the executor task time of every
completed stage of every job in the query's group (build and exec).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ffn_polars_spark.sources import get_spark
from perfbench.clock import CANARY_REF_S, Canary

HEADLINE = [
    "pricing_summary",
    "revenue_by_nation",
    "top_customers",
    "to_returns",
    "calc_realized_volatility",
    "calc_vwap",
    "time_bars",
    "quote_analytics",
    "asof_join_backward",
    "session_stats",
    "resample_returns_poisson",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_topk",
    "ann_topk_ivf",
    "text_quality",
    "clean_corpus",
]

_GROUP = "ffn-bench-stages:"


def _ui_get(sc, path: str):
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read().decode())


def _stages_by_query(sc) -> dict:
    """{query: its jobs' completed stages, heaviest first}, read once the UI
    listener has caught up with the driver: no job running and the same job
    count on two reads 0.5 s apart."""
    last = None
    for _ in range(60):
        jobs = _ui_get(sc, "/jobs")
        state = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
        if state == last and state[1] == 0:
            break
        last = state
        time.sleep(0.5)
    stages = {s["stageId"]: s for s in _ui_get(sc, "/stages?status=complete")}
    out: dict = {}
    for job in jobs:
        group = job.get("jobGroup") or ""
        if not group.startswith(_GROUP):
            continue
        for sid in job["stageIds"]:
            st = stages.pop(sid, None)  # a stage counts once
            if st is not None:
                out.setdefault(group[len(_GROUP):], []).append({
                    "stage": sid,
                    "name": st.get("name", "")[:100],
                    "run_ms": st.get("executorRunTime", 0),
                    "tasks": st.get("numCompleteTasks", 0),
                    "shuffle_write_mb": round(st.get("shuffleWriteBytes", 0) / 1e6, 2),
                })
    for v in out.values():
        v.sort(key=lambda s: s["run_ms"], reverse=True)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else 0.0

    # the stage-metrics pass reads the UI REST API; enable the UI unless the
    # caller explicitly disabled it (SPARK_GRAFT_UI=false skips the pass)
    os.environ.setdefault("SPARK_GRAFT_UI", "true")
    spark = get_spark(app_name="ffn-polars-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from ffn_polars_spark.queries import QUERY_FNS

    # JVM/codegen + Python-worker warmup outside the timed region (the
    # Arrow-kernel queries otherwise pay ~5s of worker spawn + pandas import
    # on their first use in a session).
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("long")
    def _warm(x):
        return x

    spark.range(1000, numPartitions=32).select(_warm(col("id"))).write.format(
        "noop"
    ).mode("overwrite").save()

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    samples = {name: [] for name in HEADLINE}
    errors: dict = {}
    # Interleave runs (full pass 1, full pass 2, ...) rather than timing each
    # query back-to-back-to-back: environmental slowdowns on this box arrive
    # in multi-second episodes, so interleaving decorrelates a query's three
    # samples and the median sees at least one clean pass.
    #
    # Fail-soft per query: one broken entry must never zero the whole file
    # (round 3 lost every number to a single AnalysisException on the first
    # query).  An erroring query is skipped for the rest of the run and
    # reported under "errors".
    canary = Canary()
    for _ in range(n_runs):
        for name in HEADLINE:
            if name in errors:
                continue
            fn = QUERY_FNS[name]
            canary.measure()
            t0 = time.time()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — bench must survive anything
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                samples[name] = []
                continue
            samples[name].append(time.time() - t0)

    med = {name: round(statistics.median(v), 3) for name, v in samples.items() if v}
    mins = {name: round(min(v), 3) for name, v in samples.items() if v}

    # One extra untimed run of every query, each under its own job group,
    # outside every timed region. task_ms sums executor task time per query
    # (CPU-parallel, so it can exceed wall) — the scaling disambiguator: a
    # query whose low-core/high-core WALL ratio is ≈1 while its task-time is
    # unchanged is at the scheduling-latency floor (per-task overhead >>
    # per-row cost at this SF), not serial; a genuinely serial query would
    # show task-time ≈ wall at every core count. The 3 most expensive
    # queries also print their 5 heaviest stages, which localizes a future
    # regression to a stage without a rerun.
    stage_metrics, task_ms = {}, {}
    sc = spark.sparkContext
    if sc.uiWebUrl:
        try:
            for name in mins:
                sc.setJobGroup(_GROUP + name, name)
                QUERY_FNS[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            stages = _stages_by_query(sc)
        except Exception:  # noqa: BLE001 — metrics must never break bench
            stages = {}
        task_ms = {n: sum(s["run_ms"] for s in stages[n]) for n in mins if n in stages}
        top3 = sorted(mins, key=mins.get, reverse=True)[:3]
        stage_metrics = {n: stages[n][:5] for n in top3 if n in stages}

    # Diagnostics print on their OWN lines BEFORE the headline object: the
    # driver parses only the final stdout line and its tail capture is
    # ~2000 chars — round 9 lost its driver perf record because the
    # stage-metrics map inlined into the headline object pushed the single
    # line past that cap (`BENCH_r09.json` parsed: null).
    if stage_metrics:
        print(json.dumps({"stage_metrics": stage_metrics}))
    if task_ms:
        # own compact line directly before the headline so the driver's
        # ~2000-char tail capture keeps it
        print(json.dumps({"queries_task_ms": task_ms}))

    total = sum(mins.values())
    out = {
        "metric": "headline_queries_total_wall_clock",
        "value": round(total, 3),
        "unit": "sec",
        "queries": mins,
        "sf": sf,
        "queries_median": med,
        "runs": n_runs,
        "canary_s": round(min(canary.samples), 4),
        "canary_median_s": round(statistics.median(canary.samples), 4),
        "canary_baseline_s": CANARY_REF_S,
        "value_canary_normalized": round(total * canary.machine_scale(), 3),
    }
    if errors:
        # A partial total is silently incomparable across rounds (it sums a
        # smaller query set and looks *better*); flag it explicitly.
        out["errors"] = errors
        out["incomplete"] = True
    # LAST stdout line: the compact headline JSON alone (driver contract).
    print(json.dumps(out))


if __name__ == "__main__":
    main()
