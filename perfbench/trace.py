"""Span tracing for the benchmark's traced run.

Spans are recorded from outside the engine: :meth:`Tracer.wrap` replaces
a module attribute that forms a layer boundary (for example
``runner.upsert_parquet``) with a wrapper that opens a span around the
original call, and :meth:`Tracer.unwrap` puts the originals back. Each
span runs its Spark jobs under its own job group, so the Spark UI's REST
metrics (stages, tasks, SQL node metrics) can be attached to the span
after the run. Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time
import urllib.request
from collections import defaultdict

#: SQL-node metric name -> per-layer counter it feeds.
SQL_METRICS = {
    "scan time": "scan_ms",
    "time in aggregation build": "agg_build_ms",
    "sort time": "sort_ms",
    "time to build": "broadcast_build_ms",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
    "number of written files": "files_written",
    "written output": "bytes_written",
}

#: Stage-level (exact) fields of the REST ``/stages`` records.
STAGE_FIELDS = {
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleWriteTime": "shuffle_write_ns",
    "shuffleFetchWaitTime": "fetch_wait_ms",
    "memoryBytesSpilled": "spill_bytes",
    "numFailedTasks": "failed_tasks",
}

_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """Parse a SQL metric as the UI renders it: ``'1,500'``, ``'365 ms'``,
    ``'114.5 KiB'``, or ``'total (min, med, max ...)\\n27 ms (...)'``.
    Times come back in ms, sizes in bytes."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text.strip())
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class Tracer:
    """In-memory span recorder; one per traced run."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next = 0
        self._t0 = time.perf_counter()
        self._patched: list[tuple[object, str, object]] = []

    def _group(self, span_id: int) -> str:
        return f"{self.run_id}/{span_id}"

    @contextlib.contextmanager
    def span(self, name: str):
        span_id = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(span_id)
        self.sc.setJobGroup(self._group(span_id), name)
        start = time.perf_counter()
        try:
            yield span_id
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setJobGroup(None, None)
            else:
                self.sc.setJobGroup(self._group(parent), "")
            self.spans.append(
                {
                    "id": span_id,
                    "parent": parent,
                    "name": name,
                    "start_s": start - self._t0,
                    "end_s": end - self._t0,
                    "run_id": self.run_id,
                    "job_group": self._group(span_id),
                }
            )

    def wrap(self, module: object, attr: str, name: str) -> None:
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self._patched.append((module, attr, original))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        while self._patched:
            module, attr, original = self._patched.pop()
            setattr(module, attr, original)

    def attach_spark_metrics(self) -> None:
        """Sum the REST job/stage/SQL metrics of each span's own job
        group into ``span["spark"]`` (children keep theirs)."""
        by_group = spark_metrics_by_group(self.sc)
        for s in self.spans:
            s["spark"] = dict(by_group.get(s["job_group"], {}))

    def subtree(self, span_id: int) -> list[dict]:
        kids = defaultdict(list)
        for s in self.spans:
            kids[s["parent"]].append(s)
        out, todo = [], [s for s in self.spans if s["id"] == span_id]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s["id"]])
        return out

    def by_name(self) -> dict[str, list[dict]]:
        """Spans grouped by name, each group in start order."""
        out: dict[str, list[dict]] = {}
        for s in sorted(self.spans, key=lambda s: s["start_s"]):
            out.setdefault(s["name"], []).append(s)
        return out

    def spark_totals(self, span_id: int) -> dict[str, float]:
        """Spark counters of a span and all its descendants."""
        total: dict[str, float] = defaultdict(float)
        for s in self.subtree(span_id):
            for k, v in s.get("spark", {}).items():
                total[k] += v
        return dict(total)

    def self_time(self, span: dict) -> float:
        """Span duration minus the union of its direct children's
        intervals (children of one span never overlap here: one thread)."""
        kids = [s for s in self.spans if s["parent"] == span["id"]]
        return (span["end_s"] - span["start_s"]) - sum(k["end_s"] - k["start_s"] for k in kids)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f, indent=1)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def spark_metrics_by_group(sc) -> dict[str, dict[str, float]]:
    """``{job group: counters}`` from the local UI's REST API, after the
    listener bus has drained so every finished job is visible."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = _get(f"{base}/jobs")
    stages = _get(f"{base}/stages")
    execs = _get(f"{base}/sql?details=true&planDescription=false&offset=0&length=100000")

    group_of_job = {j["jobId"]: j.get("jobGroup") for j in jobs}
    group_of_stage: dict[int, str | None] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        out[j.get("jobGroup")]["jobs"] += 1
        for sid in j["stageIds"]:
            group_of_stage.setdefault(sid, j.get("jobGroup"))
    for st in stages:
        if st["status"] == "SKIPPED":
            continue
        c = out[group_of_stage.get(st["stageId"])]
        c["stages"] += 1
        c["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
        for field, key in STAGE_FIELDS.items():
            c[key] += st.get(field, 0)
    for ex in execs:
        job_ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        if not job_ids:
            continue
        c = out[group_of_job.get(job_ids[0])]
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                key = SQL_METRICS.get(m["name"])
                if key is not None:
                    c[key] += parse_sql_metric(m["value"])
    return {g: dict(c) for g, c in out.items() if g is not None}
