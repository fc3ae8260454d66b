"""Layer trace for one benchmark run, recorded from outside the package.

Every traced query execution is one ``query`` span with three children:
``build`` (the catalog call, with ``read_table`` and ``write`` spans around
``sources.read_table`` / ``sources.write_*``), ``plan`` (forcing Catalyst's
``executedPlan()``) and ``exec`` (the noop write). Each phase runs under a
Spark job group described as ``ffn-bench:<workload>:<query>:<phase>``; jobs,
stages and SQL executions are attributed by that label, read back from the
UI REST API once the traced passes are over. Jobs Spark labels itself (the
micro-batches of a streaming query) are attributed to the innermost span
whose wall-clock interval holds their submission time.

Spans stay in memory and are written out as JSON lines when the run ends.
"""

from __future__ import annotations

import functools
import json
import re
import statistics
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime

PER_LAYER_UNITS = {
    "build.s": "s",
    "build.jobs": "count",
    "read_table.calls": "count",
    "read_table.s": "s",
    "read_table.jobs": "count",
    "write.s": "s",
    "write.mb": "MB",
    "plan.s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.task_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.scan_mb": "MB",
    "exec.shuffle_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.slot_util": "ratio",
    "python.run_ms": "ms",
    "python.start_ms": "ms",
    "python.init_ms": "ms",
    "python.sent_mb": "MB",
    "python.recv_mb": "MB",
    "python.udf_ms": "ms",
    "pins.mb": "MB",
    "dedup.pair_yield": "ratio",
    "stream.batches": "count",
    "stream.batch_ms": "ms",
    "stream.rows": "count",
    "driver.peak_rss_mb": "MB",
    "trace.overhead": "ratio",
}

_READS = ("read_table",)
_WRITES = (
    "write_table", "write_bucketed", "write_jsonl", "write_csv", "write_orc",
    "write_bucketed_table",
)
# SQL-metric name -> (layer metric, scale to its unit)
_PYTHON_METRICS = {
    "time to run Python workers": ("python.run_ms", 1.0),
    "time to start Python workers": ("python.start_ms", 1.0),
    "time to initialize Python workers": ("python.init_ms", 1.0),
    "data sent to Python workers": ("python.sent_mb", 1e-6),
    "data returned from Python workers": ("python.recv_mb", 1e-6),
}
_UNIT = {
    "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def sql_metric_value(text: str) -> float:
    """SQL-metric display string -> number in ms, bytes or rows. Task-level
    metrics read ``total (min, med, max ...)\\n<total> (...)``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.search(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2) or "", 1.0)


def _wall(ts: str) -> float:
    """REST ``2026-01-01T10:00:00.123GMT`` / listener ``...Z`` -> epoch s."""
    ts = ts.replace("GMT", "+0000").replace("Z", "+0000")
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


class Tracer:
    def __init__(self, spark, workload: str, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.cores = cores
        self.spans = []
        self.active = False
        self._stack = []
        self._pass = None
        self._query = None
        self._phase = None
        self._windows = {}  # pass -> (wall start, wall end)
        self._pins = defaultdict(float)
        self._udf_s = defaultdict(float)
        self._progress = []
        self._install_source_wrappers()
        self._install_stream_listener()

    # -- spans ------------------------------------------------------------

    @contextmanager
    def _span(self, name, phase=None):
        rec = {
            "name": name,
            "pass": self._pass,
            "query": self._query,
            "parent": self._stack[-1] if self._stack else -1,
            "start": time.perf_counter(),
            "wall_start": time.time(),
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        prev = self._phase
        if phase:
            self._set_phase(phase)
        try:
            yield
        finally:
            if phase:
                self._set_phase(prev)
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self._stack.pop()

    def _set_phase(self, phase):
        self._phase = phase
        if phase is None:
            self.sc._jsc.clearJobGroup()
            return
        label = f"ffn-bench:{self.workload}:{self._query}:{phase}"
        self.sc.setJobGroup(f"{label}#{self._pass}", label)

    @contextmanager
    def traced_pass(self, index: int):
        self._pass = index
        self.active = True
        self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        collector = getattr(self.spark, "_profiler_collector", None)
        if collector is not None:
            collector.clear_perf_profiles()
        t0 = time.time()
        try:
            yield
        finally:
            self._windows[index] = (t0, time.time())
            self.active = False
            self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
            try:
                results = collector._perf_profile_results if collector else {}
                self._udf_s[index] = sum(s.total_tt for s in results.values())
            except Exception as exc:  # noqa: BLE001 — the profiler is optional
                print(f"udf profiler unavailable: {exc!r}", file=sys.stderr)

    def run_query(self, name: str, fn, sf_dir: str) -> None:
        """One traced execution: build, plan, exec under the query span."""
        self._query = name
        try:
            with self._span("query"):
                before = self._storage_bytes()
                with self._span("build", "build"):
                    df = fn(self.spark, sf_dir)
                self._pins[self._pass] += max(0, self._storage_bytes() - before)
                with self._span("plan", "plan"):
                    df._jdf.queryExecution().executedPlan()
                with self._span("exec", "exec"):
                    df.write.format("noop").mode("overwrite").save()
        finally:
            self._query = None

    def _storage_bytes(self) -> int:
        return sum(
            i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo()
        )

    # -- hooks ----------------------------------------------------------

    def _install_source_wrappers(self):
        from ffn_polars_spark import sources

        for attr in _READS + _WRITES:
            orig = getattr(sources, attr, None)
            if orig is None:
                continue
            phase = "read_table" if attr in _READS else "write"
            wrapped = self._wrap(orig, phase)
            for mod_name, mod in list(sys.modules.items()):
                if mod_name.startswith("ffn_polars_spark") and getattr(mod, attr, None) is orig:
                    setattr(mod, attr, wrapped)

    def _wrap(self, fn, phase):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active or self._query is None:
                return fn(*args, **kwargs)
            with self._span(phase, phase):
                return fn(*args, **kwargs)

        return traced

    def _install_stream_listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self._progress

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                sink.append(
                    (p.timestamp, p.numInputRows, p.durationMs.get("triggerExecution", 0))
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(_Listener())

    # -- metrics --------------------------------------------------------

    def self_time_error(self) -> float:
        """Largest |sum of span self times - query span duration| over all
        traced query executions (0 up to float rounding by construction)."""
        dur = [s["end"] - s["start"] for s in self.spans]
        self_t = list(dur)
        for i, s in enumerate(self.spans):
            if s["parent"] >= 0:
                self_t[s["parent"]] -= dur[i]
        root_of = []
        for i, s in enumerate(self.spans):
            root_of.append(i if s["parent"] < 0 else root_of[s["parent"]])
        sums = defaultdict(float)
        for i in range(len(self.spans)):
            sums[root_of[i]] += self_t[i]
        return max((abs(sums[r] - dur[r]) for r in sums), default=0.0)

    def _rest(self, path):
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read().decode())

    def _settled_jobs(self):
        """Job list once the UI listener has caught up with the Spark driver."""
        last = None
        for _ in range(60):
            jobs = self._rest("/jobs")
            state = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
            if state == last and state[1] == 0:
                return jobs
            last = state
            time.sleep(0.5)
        return jobs

    def _attribute(self, job):
        """(pass, query, phase) of a job, or None if outside traced passes."""
        group = job.get("jobGroup") or ""
        if group.startswith("ffn-bench:") and "#" in group:
            label, p = group.rsplit("#", 1)
            _, _, query, phase = label.split(":")
            return int(p), query, phase
        t = _wall(job["submissionTime"])
        best = None
        for s in self.spans:
            if s["name"] != "query" and s["wall_start"] <= t <= s["wall_end"]:
                if best is None or s["wall_start"] >= best["wall_start"]:
                    best = s
        return (best["pass"], best["query"], best["name"]) if best else None

    def per_pass_metrics(self):
        """{pass: {metric: value}} over the traced passes (trace.overhead is
        filled in by the caller)."""
        passes = sorted(self._windows)
        out = {p: dict.fromkeys(PER_LAYER_UNITS, 0.0) for p in passes}
        for i, s in enumerate(self.spans):
            m = out[s["pass"]]
            dur = s["end"] - s["start"]
            if s["name"] == "build":
                m["build.s"] += dur
            elif s["name"] in ("read_table", "write"):
                m[f"{s['name']}.s"] += dur
                if s["name"] == "read_table":
                    m["read_table.calls"] += 1
                # own time leaves the enclosing build's self time
                parent = self.spans[s["parent"]]
                if parent["name"] == "build":
                    m["build.s"] -= dur
            elif s["name"] in ("plan", "exec"):
                m[f"{s['name']}.s"] += dur

        jobs = self._settled_jobs()
        stages = {s["stageId"]: s for s in self._rest("/stages?status=complete")}
        job_attr = {}
        for job in jobs:
            attr = self._attribute(job)
            if attr is None or attr[0] not in out:
                continue
            job_attr[job["jobId"]] = attr
            p, _, phase = attr
            m = out[p]
            if phase in ("build", "read_table", "exec"):
                m[f"{phase}.jobs"] += 1
            for sid in job["stageIds"]:
                st = stages.pop(sid, None)  # a stage counts once
                if st is None:
                    continue
                if phase == "write":
                    m["write.mb"] += st.get("outputBytes", 0) / 1e6
                if phase == "exec":
                    m["exec.tasks"] += st.get("numCompleteTasks", 0)
                    m["exec.task_ms"] += st.get("executorRunTime", 0)
                    m["exec.gc_ms"] += st.get("jvmGcTime", 0)
                    m["exec.scan_mb"] += st.get("inputBytes", 0) / 1e6
                    m["exec.shuffle_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
                    m["exec.spill_mb"] += (
                        st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                    ) / 1e6

        pair_in = defaultdict(float)
        pair_out = defaultdict(float)
        for ex in self._rest("/sql?details=true&planDescription=false&length=1000000"):
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            attr = next((job_attr[j] for j in ids if j in job_attr), None)
            if attr is None:
                continue
            p, query, phase = attr
            nodes = {n["nodeId"]: n for n in ex.get("nodes", [])}
            for n in nodes.values():
                if _is_python_node(n["nodeName"]):
                    for mt in n.get("metrics", []):
                        if mt["name"] in _PYTHON_METRICS:
                            key, scale = _PYTHON_METRICS[mt["name"]]
                            out[p][key] += sql_metric_value(mt["value"]) * scale
            if query.startswith("dedup") and phase == "exec":
                verified, candidates = _pair_verify_rows(nodes, ex.get("edges", []))
                pair_out[p] += verified
                pair_in[p] += candidates

        for ts, rows, ms in self._progress:
            t = _wall(ts)
            for p, (w0, w1) in self._windows.items():
                if w0 <= t <= w1:
                    out[p]["stream.batches"] += 1
                    out[p]["stream.rows"] += rows
                    out[p]["stream.batch_ms"] += ms

        for p, m in out.items():
            m["pins.mb"] = self._pins[p] / 1e6
            m["python.udf_ms"] = self._udf_s[p] * 1e3
            if pair_in[p]:
                m["dedup.pair_yield"] = pair_out[p] / pair_in[p]
            if m["exec.s"]:
                m["exec.slot_util"] = m["exec.task_ms"] / (m["exec.s"] * 1e3 * self.cores)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


def _rows(node):
    for mt in node.get("metrics", []):
        if mt["name"] == "number of output rows":
            return sql_metric_value(mt["value"])
    return None


def _pair_verify_rows(nodes, edges):
    """(rows out of, candidate rows into) a dedup plan's pair-verify step:
    the first Filter or join met walking down from the root along first
    children (the probe side of a broadcast join). Row-less nodes such as
    Project pass their input's count through."""
    children = {}
    for e in edges:
        children.setdefault(e["toId"], []).append(e["fromId"])
    has_parent = {e["fromId"] for e in edges}
    roots = [i for i in nodes if i not in has_parent]
    node = min(roots) if roots else None
    while node is not None:
        name = nodes[node]["nodeName"]
        kids = children.get(node, [])
        if name == "Filter" or "Join" in name:
            below = kids[0] if kids else None
            while below is not None and _rows(nodes[below]) is None:
                below = (children.get(below) or [None])[0]
            if below is None:
                return 0.0, 0.0
            return _rows(nodes[node]) or 0.0, _rows(nodes[below])
        node = kids[0] if kids else None
    return 0.0, 0.0


def median_metrics(per_pass):
    keys = PER_LAYER_UNITS
    return {k: statistics.median(m[k] for m in per_pass.values()) for k in keys}
