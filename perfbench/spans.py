"""Spans around the calls into the engine's modules, and the Spark event-log
reader for the traced run.

A traced operation is split into *layers*, each named after the per-layer
metric it feeds (``repair.pipeline_s``, ``checkpoint.commit_s`` ...).
Spark is lazy, so a layer whose output is not materialised by the operation
itself is *forced* (a ``noop`` write or a count) in pipeline order; forced
steps run only when tracing.  A layer's time is the increment its step adds
to the chain before it: its span's duration minus the duration of the forced
prefix it recomputes.  What the forcing adds is reported as
``trace.forcing_s``, and what no layer covers (planning, ``createDataFrame``,
the benchmark's own glue) as ``driver.self_s``, so for every traced
operation::

    sum(layer increments) + trace.forcing_s + driver.self_s == wall

Every span carries name, start, end and parent; Spark jobs started inside a
span carry ``<op>/<span>`` as their job description, which is how event-log
tasks are matched back to operations.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time


class NullTracer:
    """The untraced run: natural steps run as they are, forced steps and
    function wrappers are skipped."""

    enabled = False

    @contextlib.contextmanager
    def op(self, index: int):
        yield

    @contextlib.contextmanager
    def layer(self, metric: str, prefix: str | None = None):
        yield

    def force(self, metric: str, df, prefix: str | None = None, count: bool = False):
        return None


class Tracer(NullTracer):
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []
        self._cur: dict | None = None

    # --------------------------------------------------------- spans ---
    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "kind": kind, "parent": parent,
               "op": self._cur["index"] if self._cur else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = self.sc.getLocalProperty("spark.job.description")
        if self._cur is not None:
            self.sc.setJobDescription(f"op{self._cur['index']}/{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(prev)

    @contextlib.contextmanager
    def op(self, index: int):
        self._cur = {"index": index, "durations": {}, "layers": {}, "forcing_s": 0.0}
        with self.span(f"op{index}", "op") as rec:
            yield
        cur, self._cur = self._cur, None
        wall = rec["end"] - rec["start"]
        # driver-side function spans directly under the operation count as
        # layers; nested ones are already inside a layer's time
        for s in self.spans:
            if s["kind"] == "call" and s["parent"] == rec["id"]:
                m = cur["layers"]
                m[s["name"]] = m.get(s["name"], 0.0) + s["end"] - s["start"]
        covered = sum(cur["layers"].values()) + cur["forcing_s"]
        cur["wall_s"] = wall
        cur["driver.self_s"] = wall - covered
        self.ops.append(cur)

    def _record(self, metric: str, rec: dict, prefix: str | None, forced: bool) -> None:
        d = rec["end"] - rec["start"]
        self._cur["durations"][metric] = d
        inc = d - (self._cur["durations"][prefix] if prefix else 0.0)
        layers = self._cur["layers"]
        layers[metric] = layers.get(metric, 0.0) + inc
        if forced:
            self._cur["forcing_s"] += d

    @contextlib.contextmanager
    def layer(self, metric: str, prefix: str | None = None):
        """A step the operation runs anyway; ``prefix`` names the forced
        step whose work it recomputes."""
        with self.span(metric, "layer") as rec:
            yield
        self._record(metric, rec, prefix, forced=False)

    def force(self, metric: str, df, prefix: str | None = None, count: bool = False):
        """Materialise ``df`` as its own step (traced runs only)."""
        with self.span(metric, "forced") as rec:
            if count:
                out = df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
                out = None
        self._record(metric, rec, prefix, forced=True)
        return out

    # ----------------------------------------------- function wrappers ---
    def instrument(self, module, names: list[str], metric: str) -> None:
        """Wrap ``module.<name>`` so that each driver-side call is a span
        counted under ``metric``.  Calls made inside the module resolve the
        global at call time, so they are wrapped too."""
        for name in names:
            fn = getattr(module, name)

            def wrapper(*a, __fn=fn, **kw):
                with self.span(metric, "call"):
                    return __fn(*a, **kw)

            setattr(module, name, wrapper)
            self._patched.append((module, name, fn))

    def uninstrument(self) -> None:
        for module, name, fn in reversed(self._patched):
            setattr(module, name, fn)
        self._patched.clear()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops, **extra}, f)


# ------------------------------------------------------- event log ---

_TASK_METRICS = {
    "spark.executor_run_s": ("Executor Run Time", 1e-3),
    "spark.executor_cpu_s": ("Executor CPU Time", 1e-9),
    "spark.jvm_gc_s": ("JVM GC Time", 1e-3),
}
_ACCUMULABLES = {
    "udf.python_worker_s": ("time to run Python workers", 1e-3),
    "udf.bytes_to_python": ("data sent to Python workers", 1.0),
    "udf.bytes_from_python": ("data returned from Python workers", 1.0),
}


def _events(event_dir: str):
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path):
            with open(path) as f:
                for line in f:
                    yield json.loads(line)


def event_log_metrics(event_dir: str) -> dict[int, dict[str, float]]:
    """Per traced operation: task counts and summed task metrics from the
    uncompressed event log, matched by job description ``op<n>/...``."""
    stage_op: dict[int, int] = {}
    out: dict[int, dict[str, float]] = {}
    for ev in _events(event_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            if desc.startswith("op") and "/" in desc:
                op = int(desc[2:desc.index("/")])
                for sid in ev.get("Stage IDs", []):
                    stage_op[sid] = op
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev.get("Stage ID"))
            if op is None:
                continue
            m = out.setdefault(op, {})
            tm = ev.get("Task Metrics") or {}
            m["spark.tasks"] = m.get("spark.tasks", 0) + 1
            for key, (field, scale) in _TASK_METRICS.items():
                m[key] = m.get(key, 0.0) + tm.get(field, 0) * scale
            sw = tm.get("Shuffle Write Metrics") or {}
            m["spark.shuffle_write_bytes"] = m.get("spark.shuffle_write_bytes", 0) + sw.get(
                "Shuffle Bytes Written", 0)
            m["spark.spill_bytes"] = m.get("spark.spill_bytes", 0) + tm.get(
                "Disk Bytes Spilled", 0)
            python_task = False
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name") or ""
                for key, (prefix, scale) in _ACCUMULABLES.items():
                    if name.startswith(prefix):
                        python_task = True
                        m[key] = m.get(key, 0.0) + float(acc.get("Update") or 0) * scale
            m["udf.python_tasks"] = m.get("udf.python_tasks", 0) + int(python_task)
    return out
