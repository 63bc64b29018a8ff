"""Tracing for the benchmark's traced run, entirely from outside the program.

- :class:`Tracer` records spans around calls into the package's public
  functions by replacing module attributes in this process (the package's
  source is untouched). Each span tags the Spark jobs its thread submits
  with a job description, so Spark's own metrics can be attributed to it.
- :class:`SparkRest` reads Spark's UI REST API (``/jobs``, ``/stages``,
  ``/sql?details=true``) after the run.
- :func:`breakdown` turns spans into self time per layer plus the wall time
  that no span covers; the two add up to the wall time of the root spans.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import re
import threading
import time
import urllib.request
from dataclasses import dataclass, field

DESC_PREFIX = "perfbench:"
_DESC_KEY = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run_id: int
    start: float
    end: float = 0.0
    thread: str = ""


@dataclass
class Tracer:
    """Spans kept in memory; written out with the run's detail report."""

    sc: object = None  # SparkContext, for job descriptions
    spans: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _pending: dict = field(default_factory=dict)
    _undo: list = field(default_factory=list)

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def open(self, name: str, layer: str, parent: Span | None = None, run_id: int | None = None) -> Span:
        parent = parent or self.current()
        span = Span(
            id=next(self._ids),
            name=name,
            layer=layer,
            parent=parent.id if parent else None,
            run_id=run_id if run_id is not None else (parent.run_id if parent else 0),
            start=time.perf_counter(),
            thread=threading.current_thread().name,
        )
        self._stack().append(span)
        if self.sc is not None:
            self.sc.setLocalProperty(_DESC_KEY, f"{DESC_PREFIX}{span.id}")
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        if self.sc is not None:
            self.sc.setLocalProperty(
                _DESC_KEY, f"{DESC_PREFIX}{stack[-1].id}" if stack else None
            )
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, parent: Span | None = None, run_id: int | None = None):
        span = self.open(name, layer, parent, run_id)
        try:
            yield span
        finally:
            self.close(span)

    # -- cross-thread parents (client thread -> server handler thread) --

    def expect(self, key: str, parent: Span) -> None:
        """Register ``parent`` as the cause of the next server-side call
        carrying ``key``."""
        with self._lock:
            self._pending.setdefault(key, []).append(parent)

    def claim(self, key: str) -> Span | None:
        with self._lock:
            waiting = self._pending.get(key)
            return waiting.pop(0) if waiting else None

    # -- wrapping the program's public functions --

    def wrap(self, module: str, attr: str, layer: str, keyed=None) -> None:
        """Replace ``module.attr`` (``attr`` may be ``Class.method``) with a
        wrapper recording a span named ``<module tail>.<attr>``. Calls made
        outside any open span pass straight through, unless ``keyed`` maps
        the call's arguments to a key registered with :meth:`expect`."""
        owner = importlib.import_module(module)
        *path, name = attr.split(".")
        for p in path:
            owner = getattr(owner, p)
        original = owner.__dict__[name] if isinstance(owner, type) else getattr(owner, name)
        span_name = f"{module.rsplit('.', 1)[-1]}.{attr}"
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            parent = tracer.current()
            if parent is None and keyed is not None:
                parent = tracer.claim(keyed(*args, **kwargs))
            if parent is None:
                return original(*args, **kwargs)
            with tracer.span(span_name, layer, parent):
                return original(*args, **kwargs)

        setattr(owner, name, wrapper)
        self._undo.append((owner, name, original))

    def unwrap(self) -> None:
        while self._undo:
            owner, name, original = self._undo.pop()
            setattr(owner, name, original)


def breakdown(spans: list[Span]) -> dict:
    """Self time per layer over every root span's tree, plus ``uncovered``:
    root time no child span covers. ``sum(layers) + uncovered == wall``,
    where wall is the summed duration of the root spans."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    layers: dict[str, float] = {}
    wall = uncovered = 0.0
    for s in spans:
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        own = (s.end - s.start) - covered
        if s.parent is None:
            wall += s.end - s.start
            uncovered += own
        else:
            layers[s.layer] = layers.get(s.layer, 0.0) + own
    return {"wall_s": wall, "uncovered_s": uncovered, "layers_s": layers}


# -- Spark UI REST ----------------------------------------------------------

_UNITS = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_METRIC_VALUE = re.compile(r"^\s*(?:total[^\n]*\n)?\s*([-0-9.,]+)\s*([A-Za-zµ]+)?")


def parse_sql_metric(text: str) -> float:
    """A SQL UI metric string (``"2.5 s"``, ``"197.7 KiB"``, ``"64"``, or a
    ``"total (min, med, max ...)\\n1.2 s (...)"`` block) as seconds, bytes
    or a count."""
    m = _METRIC_VALUE.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}


class SparkRest:
    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.loads(r.read())

    def settle(self, timeout_s: float = 30.0) -> None:
        """Wait until the UI store shows no running job and stops changing
        (the listener bus updates it asynchronously)."""
        deadline, last = time.monotonic() + timeout_s, None
        while time.monotonic() < deadline:
            jobs = self.get("jobs")
            state = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
            if state == last and state[1] == 0:
                return
            last = state
            time.sleep(0.5)

    def collect(self, span_ids: set[int]) -> dict:
        """Jobs, stages and SQL executions whose description names one of
        ``span_ids``, keyed by that span id."""
        def owner(desc):
            if desc and desc.startswith(DESC_PREFIX):
                sid = int(desc[len(DESC_PREFIX):])
                if sid in span_ids:
                    return sid
            return None

        jobs = [dict(j, span=owner(j.get("description"))) for j in self.get("jobs")]
        jobs = [j for j in jobs if j["span"] is not None]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stage_span = {s: j["span"] for j in jobs for s in j["stageIds"]}
        stages = [
            dict(s, span=stage_span[s["stageId"]])
            for s in self.get("stages?details=false")
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        sql = [
            dict(e, span=owner(e.get("description")))
            for e in self.get("sql?details=true&planDescription=false&offset=0&length=100000")
        ]
        sql = [e for e in sql if e["span"] is not None]
        return {"jobs": jobs, "stages": stages, "sql": sql}

    def task_max_over_median(self, stage: dict) -> float:
        q = self.get(
            f"stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )
        med, mx = q["executorRunTime"]
        return mx / med if med > 0 else 1.0


def spark_totals(found: dict) -> dict:
    """Sum the Spark metrics of the collected jobs, stages and SQL nodes."""
    st = found["stages"]
    out = {
        "jobs": len(found["jobs"]),
        "stages": len(st),
        "tasks": sum(s["numTasks"] for s in st),
        "executor_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
        "jvm_gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in st),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in st),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st),
        "input_bytes": sum(s["inputBytes"] for s in st),
    }
    for key in PYTHON_METRICS.values():
        out[key] = 0.0
    for e in found["sql"]:
        for node in e.get("nodes", ()):
            for m in node.get("metrics", ()):
                key = PYTHON_METRICS.get(m["name"])
                if key:
                    out[key] += parse_sql_metric(m["value"])
    return out
