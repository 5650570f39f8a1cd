"""Traced-run plumbing: spans around calls into each layer's public
functions, plus the counts Spark exposes at the same boundaries.

Spans are recorded from the benchmark's side of each call — nothing in
the library is edited. Each span has a name, a layer, start and end
(wall-clock seconds, so Spark's job timestamps can be placed inside
them), its parent and the operation id shared by all spans of one
operation. Spans stay in memory and are written out once at the end.

Counts come from four places:

- jobs, stages and tasks from the in-process status REST API, across all
  job groups (``statusTracker().getJobIdsForGroup(None)`` sees only jobs
  outside any group, and streaming micro-batches run inside one);
- Catalyst phase times from ``queryExecution().tracker().phases()``;
- streaming progress from a Python ``StreamingQueryListener``;
- SQL metrics of the Arrow/pandas nodes, from the REST ``sql`` endpoint.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import re
import time
import urllib.request
from datetime import datetime

#: (module path relative to the package, attribute, layer). Wrapping the
#: module attribute catches callers that import it at call time; the
#: engine binds its writer names at import, so those are wrapped there.
WRAPPED = [
    ("config", "JobConfig.from_json", "config"),
    ("config", "JobConfig.from_dict", "config"),
    ("plans.engine", "Orchestrator.run", "engine"),
    ("sources.readers", "read_input", "readers"),
    ("sources.readers", "read_parquet", "readers"),
    ("plans.engine", "write_target", "writers"),
    ("plans.engine", "write_error_records", "writers"),
    ("sinks.writers", "write_target", "writers"),
    ("sources.delta_lite", "merge_scd2_delta_lite", "delta_lite"),
    ("sources.delta_lite", "write_delta_lite", "delta_lite"),
    ("sources.delta_lite", "read_delta_lite", "delta_lite"),
    ("streaming.ops", "streaming_dedup", "streaming"),
    ("streaming.ops", "session_aggregate", "streaming"),
    ("streaming.ops", "foreach_batch_writer", "streaming"),
]

_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
             "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
             "AggregateInPandas", "WindowInPandas", "FlatMapGroupsInPandasWithState")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _rest_time(s: str | None) -> float | None:
    """'2026-10-16T23:22:07.123GMT' -> epoch seconds."""
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _metric_value(text: str) -> float:
    """SQL metric strings come formatted: '1,234', '12.3 KiB', or a
    'total (min, med, max ...)' header over the total on the next line."""
    line = text.split("\n")[1] if text.startswith("total") and "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class Tracer:
    """Records spans for one measured process. Create it after the
    session and ``Orchestrator`` exist; ``install`` wraps the layer
    functions, ``uninstall`` puts the originals back."""

    def __init__(self, spark, package):
        self.spark = spark
        self.package = package
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id: int | None = None
        self.progress: list[dict] = []
        self._saved: list[tuple[object, str, object]] = []
        sc = spark.sparkContext
        self.ui = sc.uiWebUrl
        self.app = sc.applicationId
        self.last_job = -1
        self.last_sql = -1
        self._listener = None

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": self.stack[-1] if self.stack else None,
               "op": self.op_id, "start": time.time(), "end": None}
        self.spans.append(rec)
        self.stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer):
                out = fn(*args, **kwargs)
            if name.endswith("foreach_batch_writer") and callable(out):
                return tracer._wrap(out, "streaming.foreach_batch", "streaming")
            return out

        return wrapper

    def install(self) -> None:
        for mod_name, attr, layer in WRAPPED:
            owner = importlib.import_module(f"{self.package}.{mod_name}")
            parts = attr.split(".")
            for p in parts[:-1]:
                owner = getattr(owner, p)
            raw = owner.__dict__[parts[-1]]
            fn = raw.__func__ if isinstance(raw, classmethod) else raw
            wrapped = self._wrap(fn, f"{mod_name}.{attr}", layer)
            setattr(owner, parts[-1], classmethod(wrapped) if isinstance(raw, classmethod) else wrapped)
            self._saved.append((owner, parts[-1], raw))
        self._add_listener()

    def uninstall(self) -> None:
        for owner, name, raw in reversed(self._saved):
            setattr(owner, name, raw)
        self._saved.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def _add_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                tracer.progress.append({"op": tracer.op_id,
                                        **json.loads(event.progress.json)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    # -- counts --------------------------------------------------------------

    def _get(self, path: str):
        url = f"{self.ui}/api/v1/applications/{self.app}/{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.loads(resp.read())

    def _settled_jobs(self) -> list[dict]:
        """Jobs newer than the last call, once the UI's listener has seen
        every one of them finish (the UI is fed asynchronously)."""
        for _ in range(50):
            jobs = [j for j in self._get("jobs") if j["jobId"] > self.last_job]
            if all(j["status"] != "RUNNING" for j in jobs):
                return sorted(jobs, key=lambda j: j["jobId"])
            time.sleep(0.1)
        return sorted(jobs, key=lambda j: j["jobId"])

    def collect(self, wall_s: float, cores: int) -> dict:
        """Counts of everything Spark ran since the previous call."""
        time.sleep(0.3)  # let the listener bus deliver the last events
        jobs = self._settled_jobs()
        if jobs:
            self.last_job = jobs[-1]["jobId"]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._get("stages") if s["stageId"] in stage_ids
                  and s["status"] in ("COMPLETE", "FAILED")]
        sqls = [q for q in self._get("sql?details=true&planDescription=false&length=100000")
                if q["id"] > self.last_sql]
        if sqls:
            self.last_sql = max(q["id"] for q in sqls)
        py = {"bytes_sent": 0.0, "bytes_received": 0.0, "rows": 0.0}
        for q in sqls:
            for node in q.get("nodes", []):
                if not node["nodeName"].startswith(_PY_NODES):
                    continue
                for m in node.get("metrics", []):
                    if m["name"] == "data sent to Python workers":
                        py["bytes_sent"] += _metric_value(m["value"])
                    elif m["name"] == "data returned from Python workers":
                        py["bytes_received"] += _metric_value(m["value"])
                    elif m["name"] == "number of output rows":
                        py["rows"] += _metric_value(m["value"])
        task_s = sum(s.get("executorRunTime", 0) for s in stages) / 1000
        # what a statusTracker walk of the default group would have seen
        ungrouped = set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))
        return {
            "jobs": [{"id": j["jobId"], "t": _rest_time(j.get("submissionTime")),
                      "stages": len(j["stageIds"]), "tasks": j.get("numTasks", 0)}
                     for j in jobs if j.get("submissionTime")],
            "exec": {
                "task_s": task_s,
                "core_busy": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
                "input_bytes": sum(s.get("inputBytes", 0) for s in stages),
                "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in stages),
                "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in stages),
                "spill_bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                                   for s in stages),
                "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1000,
                "peak_exec_memory_bytes": max([s.get("peakExecutionMemory", 0) for s in stages] or [0]),
                "failed_tasks": sum(j.get("numFailedTasks", 0) for j in jobs),
                "ungrouped_jobs": sum(1 for j in jobs if j["jobId"] in ungrouped),
            },
            "pyboundary": py,
        }

    def all_failed_tasks(self) -> int:
        """Retried task failures over every job the application ran, in
        every job group."""
        return sum(j.get("numFailedTasks", 0) for j in self._get("jobs"))


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning ms of a DataFrame's query,
    forcing physical planning first. ``phases().get(k)`` returns a Scala
    ``Option``; it must be unwrapped before ``durationMs()``."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM of its process)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0
