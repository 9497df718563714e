"""Tracing for the per-layer run (``--trace 1``).

Three tracers, all owned by the benchmark:

* spans recorded around calls into each layer's public methods, by
  proxies installed from here (the engine is not edited).  A span has a
  name, start, end and parent, and every span of a run shares the run
  id.  Spans stay in memory and are written out when the run ends;
* a ``StreamingQueryListener`` keeping every trigger's progress;
* the Spark event log, enabled through the session's ``extra_conf``.

Self time of a span is its duration minus the part of it that its
child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        # foreachBatch bodies run on the py4j callback thread while the
        # main thread blocks in processAllAvailable, so one stack shared
        # by both threads gives every span its causal parent
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append(
                {"id": sid, "run_id": self.run_id, "name": name,
                 "parent": parent, "start": time.perf_counter(), "end": None}
            )
            self._stack.append(sid)
        try:
            yield
        finally:
            with self._lock:
                self.spans[sid]["end"] = time.perf_counter()
                self._stack.remove(sid)

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` by a timed wrapper (instance attribute)."""
        inner = getattr(obj, attr)

        def timed(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, attr, timed)

    def totals(self, lo: float | None = None, hi: float | None = None):
        """Per span name: count, summed duration and summed self time
        (seconds), over the finished spans that started in [lo, hi]
        (``time.perf_counter`` values)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s["end"] is None or (lo is not None and s["start"] < lo) or (
                hi is not None and s["start"] > hi
            ):
                continue
            dur = s["end"] - s["start"]
            covered = _union_length(
                (c["start"], c["end"] if c["end"] is not None else s["end"])
                for c in children.get(s["id"], [])
            )
            acc = out.setdefault(s["name"], {"n": 0, "total": 0.0, "self": 0.0})
            acc["n"] += 1
            acc["total"] += dur
            acc["self"] += max(0.0, dur - covered)
        return out

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f)


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class TimedCallable:
    """Stands in for a callable object (the pipeline's sink): calls are
    spans, every other attribute goes to the wrapped object."""

    def __init__(self, inner, tracer: Tracer, name: str) -> None:
        self._inner = inner
        self._tracer = tracer
        self._name = name

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._name):
            return self._inner(*args, **kwargs)

    def __getattr__(self, attr):
        return getattr(self._inner, attr)


def instrument_pipeline(pipe, tracer: Tracer) -> None:
    """Spans around the public methods the pipeline calls into."""
    pipe.sink = TimedCallable(pipe.sink, tracer, "sink")
    tracer.wrap(pipe, "maintain", "pipeline.maintain")
    tracer.wrap(pipe, "retry_queue", "pipeline.retry_queue")
    tracer.wrap(pipe.target, "merge", "tables.merge")
    tracer.wrap(pipe.target, "compact_deltas", "tables.compact_deltas")
    tracer.wrap(pipe.target, "vacuum", "tables.vacuum")
    if pipe.dlq is not None:
        tracer.wrap(pipe.dlq, "gate_incoming", "dlq.gate_incoming")
        tracer.wrap(pipe.dlq, "enqueue", "dlq.enqueue")
        tracer.wrap(pipe.dlq, "drain", "dlq.drain")


class ProgressListener(StreamingQueryListener):
    """Keeps every trigger's progress, as parsed JSON, in memory."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def eventlog_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def eventlog_totals(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Engine totals over the jobs and tasks that started inside the
    given wall-clock windows (epoch seconds).  Read after the session
    stopped, when the log is complete."""
    wins = [(a * 1000.0, b * 1000.0) for a, b in windows]

    def inside(ms) -> bool:
        return ms is not None and any(a <= ms <= b for a, b in wins)

    t = {
        "jobs": 0, "tasks": 0, "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0,
        "sh_write": 0.0, "sh_read": 0.0, "spill": 0.0, "python_bytes": 0.0,
    }
    job_start: dict[int, float] = {}
    job_spans: list[tuple[float, float]] = []
    paths = sorted(
        os.path.join(root, f) for root, _d, files in os.walk(log_dir) for f in files
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:
                    continue
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    if inside(e.get("Submission Time")):
                        job_start[e["Job ID"]] = e["Submission Time"]
                elif ev == "SparkListenerJobEnd":
                    s = job_start.pop(e["Job ID"], None)
                    if s is not None:
                        t["jobs"] += 1
                        job_spans.append((s, e["Completion Time"]))
                elif ev == "SparkListenerTaskEnd":
                    info = e.get("Task Info", {})
                    if not inside(info.get("Launch Time")):
                        continue
                    m = e.get("Task Metrics") or {}
                    t["tasks"] += 1
                    t["run_ms"] += m.get("Executor Run Time", 0)
                    t["cpu_ns"] += m.get("Executor CPU Time", 0)
                    t["gc_ms"] += m.get("JVM GC Time", 0)
                    w = m.get("Shuffle Write Metrics") or {}
                    r = m.get("Shuffle Read Metrics") or {}
                    t["sh_write"] += w.get("Shuffle Bytes Written", 0)
                    t["sh_read"] += r.get("Remote Bytes Read", 0) + r.get(
                        "Local Bytes Read", 0
                    )
                    t["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                elif ev == "SparkListenerStageCompleted":
                    st = e.get("Stage Info", {})
                    if not inside(st.get("Submission Time")):
                        continue
                    for acc in st.get("Accumulables", []):
                        nm = str(acc.get("Name", ""))
                        # the Python exec nodes' SQL metrics: "data sent
                        # to Python workers", "data returned from ..."
                        if "Python workers" in nm and nm.startswith("data "):
                            try:
                                t["python_bytes"] += float(acc.get("Value", 0))
                            except (TypeError, ValueError):
                                pass
    busy_ms = 0.0
    for a, b in wins:
        clipped = [(max(s, a), min(e, b)) for s, e in job_spans if e > a and s < b]
        busy_ms += _union_length(clipped)
    wall_ms = sum(b - a for a, b in wins)
    t["driver_idle_ms"] = max(0.0, wall_ms - busy_ms)
    return t


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def count_files(path: str, suffix: str) -> int:
    return sum(
        1 for _r, _d, files in os.walk(path) for f in files if f.endswith(suffix)
    )
