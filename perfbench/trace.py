"""Spans recorded from outside the program, around calls into its layers.

A traced run wraps public entry points of each layer (``CdcEngine``,
``LakeTable`` and its ``FileIO``, ``lineage``, ``CorpusPipeline``, the
query functions) on the objects the benchmark itself created, keeps one
record per call in memory and writes them out when the run ends. An
untraced run wraps nothing.

Spark-side counts come from three places: ``CodegenMetrics`` (read over
py4j around each operation), ``StreamingQuery.recentProgress`` and the
Spark event log, which is parsed after the session stops.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time

from dexspark.lake import LocalFileIO


class Tracer:
    """In-memory spans: id, parent id, layer, name, wall start/end
    (epoch seconds, so Spark event-log times can be matched against
    them) and free-form attributes.

    The parent is the innermost open span of the calling thread; a
    thread with no open span (a ``foreachBatch`` callback, the engine's
    sink-writer pool) takes the span opened most recently on any
    thread that is still open."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: list[int] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            parent = stack[-1] if stack else (self._open[-1] if self._open else None)
            rec = {
                "id": len(self.spans),
                "parent": parent,
                "layer": layer,
                "name": name,
                "start": time.time(),
                "end": None,
                "attrs": attrs,
            }
            self.spans.append(rec)
            self._open.append(rec["id"])
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self._open.remove(rec["id"])

    def reset(self) -> None:
        """Drop the spans recorded so far (set-up), keeping the
        measured phase's only. Call with no span open."""
        self.spans = []

    def named(self, name: str, window: tuple[float, float] | None = None) -> list[dict]:
        """Spans called ``name``, optionally only those that started
        inside ``window`` (epoch seconds)."""
        return [
            s
            for s in self.spans
            if s["name"] == name and (window is None or window[0] <= s["start"] <= window[1])
        ]

    def total(self, name: str, window: tuple[float, float] | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name, window))

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer: the sum over its spans of each span's duration
        minus the part of it covered by its children (children on other
        threads may overlap, so their intervals are merged first)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(
                (max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])
            ):
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            self_s = (s["end"] - s["start"]) - covered
            out[s["layer"]] = out.get(s["layer"], 0.0) + self_s
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")


def wrap_method(tracer: Tracer, obj, method: str, layer: str, name: str, on_result=None):
    """Replace ``obj.method`` on this instance only with a traced call.
    ``on_result(span, result)`` may copy figures from the result into
    the span."""
    inner = getattr(obj, method)

    def traced(*args, **kwargs):
        with tracer.span(layer, name) as sp:
            result = inner(*args, **kwargs)
            if on_result is not None:
                on_result(sp, result)
            return result

    setattr(obj, method, traced)


@contextlib.contextmanager
def patched_functions(tracer: Tracer, module, names: dict[str, tuple[str, str]]):
    """Trace module-level functions as seen by ``module`` (a module
    that imported them by name) for the duration of the block."""
    saved = {attr: getattr(module, attr) for attr in names}

    def make(fn, layer, span_name):
        def traced(*args, **kwargs):
            with tracer.span(layer, span_name):
                return fn(*args, **kwargs)

        return traced

    try:
        for attr, (layer, span_name) in names.items():
            setattr(module, attr, make(saved[attr], layer, span_name))
        yield
    finally:
        for attr, fn in saved.items():
            setattr(module, attr, fn)


class TracedFileIO(LocalFileIO):
    """The POSIX FileIO with a span around every call (layer
    ``lake.io``), which also counts the calls."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def _call(self, op: str, fn, *args):
        with self.tracer.span("lake.io", f"lake.io.{op}"):
            return fn(*args)

    def list_dir(self, path):
        return self._call("list_dir", super().list_dir, path)

    def read_text(self, path):
        return self._call("read_text", super().read_text, path)

    def put_if_absent(self, path, data):
        return self._call("put_if_absent", super().put_if_absent, path, data)

    def delete(self, path):
        return self._call("delete", super().delete, path)

    def mtime(self, path):
        return self._call("mtime", super().mtime, path)

    def remove_tree(self, path):
        return self._call("remove_tree", super().remove_tree, path)

    def is_dir(self, path):
        return self._call("is_dir", super().is_dir, path)


class Codegen:
    """Whole-stage codegen compiles and their compile time, as deltas of
    ``CodegenMetrics.METRIC_COMPILATION_TIME`` (a histogram of compile
    ms). Its reservoir keeps every sample up to 1028, so the sum of the
    snapshot is exact until then and an estimate (mean x count) after."""

    RESERVOIR = 1028

    def __init__(self, spark):
        self.hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def read(self) -> tuple[int, float]:
        snap = self.hist.getSnapshot()
        n = int(self.hist.getCount())
        if n <= self.RESERVOIR:
            return n, float(sum(snap.getValues()))
        return n, float(snap.getMean()) * n


def planning_ms(df) -> float:
    """Analysis + optimization + planning ms of ``df``'s own query
    execution, from its ``QueryPlanningTracker``."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    total = 0.0
    while it.hasNext():
        total += float(it.next()._2().durationMs())
    return total


def event_log_totals(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Jobs submitted, tasks launched, executor run ms, JVM GC ms and
    shuffle bytes written by tasks that started inside any of
    ``windows`` (epoch-second intervals), from the Spark event log."""
    out = {"jobs": 0, "tasks": 0, "executor_run_ms": 0, "gc_ms": 0, "shuffle_write_bytes": 0}
    ms_windows = [(lo * 1000.0, hi * 1000.0) for lo, hi in windows]

    def inside(t_ms) -> bool:
        return t_ms is not None and any(lo <= t_ms <= hi for lo, hi in ms_windows)

    # Spark 4 writes each application's log as a directory of rolled files
    for path in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart" and inside(ev.get("Submission Time")):
                    out["jobs"] += 1
                elif kind == "SparkListenerTaskEnd" and inside(
                    ev.get("Task Info", {}).get("Launch Time")
                ):
                    m = ev.get("Task Metrics") or {}
                    out["tasks"] += 1
                    out["executor_run_ms"] += int(m.get("Executor Run Time", 0))
                    out["gc_ms"] += int(m.get("JVM GC Time", 0))
                    out["shuffle_write_bytes"] += int(
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    )
    return out
