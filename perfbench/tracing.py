"""Tracing for the benchmark's traced runs (``--trace 1``).

Spans are recorded from the benchmark's own files, around the calls it
makes into the package's layers, and kept in memory until the run
ends.  Engine-side counts (jobs, stages, tasks, shuffle bytes, cached
RDDs, GC time) come from the live application's UI REST API on
localhost, read after the timed window or by a low-rate poller.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
import uuid
from collections.abc import Callable
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: (name, start, end, parent, run id).
    Spans are recorded only while ``active`` is set, which a traced
    run sets for its timed window."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.active = False
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, name: str, fn: Callable) -> Callable:
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus
        the time its direct children cover (children run one after
        another inside their parent, so their durations add)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                d = s["end"] - s["start"] - child[s["id"]]
                out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out


def patch_attr(module, name: str, replacement) -> Callable[[], None]:
    """Replace ``module.name``; returns the undo function."""
    orig = getattr(module, name)
    setattr(module, name, replacement)
    return lambda: setattr(module, name, orig)


def wrap_factory(tracer: Tracer, span_name: str, factory: Callable) -> Callable:
    """A stage factory whose returned per-batch callable runs in a span."""

    def make(*args, **kwargs):
        return tracer.wrap(span_name, factory(*args, **kwargs))

    return make


class RestApi:
    """Reader for the live application's monitoring REST API."""

    def __init__(self, sc) -> None:
        port = sc.uiWebUrl.rsplit(":", 1)[1].rstrip("/")
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def group_stats(self) -> dict[str, dict]:
        """Per job group: jobs, completed stages, tasks, executor run
        time, time in single-task stages and shuffle bytes written."""
        stages = {
            (s["stageId"], s["attemptId"]): s
            for s in self.get("stages")
            if s["status"] == "COMPLETE"
        }
        by_stage: dict[int, list[dict]] = {}
        for key, s in stages.items():
            by_stage.setdefault(key[0], []).append(s)
        out: dict[str, dict] = {}
        for job in self.get("jobs"):
            g = out.setdefault(
                job.get("jobGroup") or "", dict.fromkeys(GROUP_KEYS, 0)
            )
            g["jobs"] += 1
            for sid in job["stageIds"]:
                for s in by_stage.pop(sid, ()):
                    run_s = s["executorRunTime"] / 1000.0
                    g["stages"] += 1
                    g["tasks"] += s["numCompleteTasks"]
                    g["executor_run_s"] += run_s
                    g["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                    if s["numTasks"] == 1:
                        g["single_task_stage_s"] += run_s
        return out

    def gc_s(self) -> float:
        return sum(e["totalGCTime"] for e in self.get("executors")) / 1000.0


class StoragePoller:
    """Samples ``/storage/rdd`` every ``period`` seconds on a daemon
    thread while the tracer is active, keeping the maxima of cached
    RDDs and cached bytes."""

    def __init__(self, api: RestApi, tracer: Tracer, period: float = 0.5) -> None:
        self.api, self.tracer, self.period = api, tracer, period
        self.rdds_max = 0
        self.bytes_max = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            if not self.tracer.active:
                continue
            try:
                rdds = self.api.get("storage/rdd")
            except OSError:
                continue
            self.rdds_max = max(self.rdds_max, len(rdds))
            self.bytes_max = max(
                self.bytes_max,
                sum(r["memoryUsed"] + r["diskUsed"] for r in rdds),
            )

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=30)


#: per-layer metrics every workload reports, with their units
COMMON_UNITS = {
    "session.start_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_run_s_per_op": "s",
    "spark.single_task_stage_s_per_op": "s",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "jvm.gc_s": "s",
    "cache.cached_rdds_max": "count",
    "cache.cached_bytes_max": "bytes",
    "trace.op_p50_s": "s",
}
GROUP_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "single_task_stage_s",
    "shuffle_write_bytes",
)


def engine_metrics(
    api: RestApi, poller: StoragePoller, ops: list[list[dict]], op_s: list[float]
) -> dict[str, tuple[float, str]]:
    """The common per-layer metrics.  ``ops`` holds, per operation of
    the timed window, the job-group stats of its jobs, and ``op_s``
    its duration.  ``trace.op_p50_s`` is the traced twin of the
    end-to-end ``op_p50_s``: their gap is the tracing overhead."""

    def per_op(key):
        return sum(g.get(key, 0) for gs in ops for g in gs) / len(ops)

    vals = {f"spark.{k}_per_op": per_op(k) for k in GROUP_KEYS}
    vals.update(
        {
            "jvm.gc_s": api.gc_s(),
            "cache.cached_rdds_max": poller.rdds_max,
            "cache.cached_bytes_max": poller.bytes_max,
            "trace.op_p50_s": statistics.median(op_s),
        }
    )
    return {k: (v, COMMON_UNITS[k]) for k, v in vals.items()}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
