"""Spans around the program's layers, for the traced run.

A span records name, layer, start, end, parent and op id. Spans stay in
memory and are written once, when the run ends. Every span sets its own
Spark job group, so the jobs an action starts are read back per span
from Spark's status store; a query-execution listener collects Catalyst
phase times per op. Frames are lazy, so execution lands in the span of
the first action, wherever that is; nothing is reordered.

The wrappers are installed on the program's modules by ``install`` and
record nothing while the tracer is disabled or outside a traced op.
"""

from __future__ import annotations

import contextlib
import functools
import math
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    op: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float = math.nan
    group: str | None = None
    jobs: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of traced ops. ``spark`` is the session, or None for a
    tracer that records spans only (as the tests use it)."""

    def __init__(self, spark=None, clock=time.perf_counter):
        self.spark = spark
        self.sc = spark.sparkContext if spark is not None else None
        self.clock = clock
        self.enabled = False
        self.spans: list[Span] = []
        self.catalyst: dict[int, float] = {}  # op id -> planning seconds
        self._stack: list[Span] = []
        self._op = 0
        self._listener = None
        self._events: list[float] = []

    # -- spans -------------------------------------------------------------
    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._op += 1
        s = Span(
            id=len(self.spans),
            op=self._op,
            parent=parent.id if parent else None,
            name=name,
            layer=layer,
            start=self.clock(),
        )
        s.group = f"perfbench-{s.op}-{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s.group)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            self._set_group(parent.group if parent else None)

    def wrap(self, fn, name: str, layer: str):
        """``fn`` recording a span when called inside a traced op."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not (self.enabled and self._stack):
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def op(self, name: str):
        """A root span (layer ``bench``): one timed operation. Its self
        time is the part of the op no layer span covers. The Catalyst
        listener is registered for traced ops only."""
        if not self.enabled:
            yield None
            return
        self._drain()
        self._events = []
        self._listen(True)
        try:
            with self.span(name, "bench") as root:
                yield root
        finally:
            self._drain()
            self._listen(False)
        self._collect(root)

    # -- Spark ---------------------------------------------------------------
    def start_listener(self) -> None:
        """Create the query-execution listener that collects Catalyst phase
        times; ``op`` registers it around each traced op."""
        if self.sc is None or self._listener is not None:
            return
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        tracer = self

        class Listener:
            def onSuccess(self, func_name, qe, duration_ns):
                phases = qe.tracker().phases().iterator()
                ms = 0
                while phases.hasNext():
                    ms += phases.next()._2().durationMs()
                tracer._events.append(ms / 1000.0)

            def onFailure(self, func_name, qe, exc):
                self.onSuccess(func_name, qe, 0)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self._listener = Listener()

    def _listen(self, on: bool) -> None:
        if self._listener is not None:
            manager = self.spark._jsparkSession.listenerManager()
            (manager.register if on else manager.unregister)(self._listener)

    def _drain(self) -> None:
        if self.sc is not None:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _collect(self, root: Span) -> None:
        """Job ids per span, and the op's Catalyst time, once the op ended
        and Spark's listener bus has caught up."""
        if self.sc is None:
            return
        if self._listener is not None:
            self.catalyst[root.op] = sum(self._events)
        tracker = self.sc.statusTracker()
        for s in self.spans[root.id:]:
            s.jobs = sorted(tracker.getJobIdsForGroup(s.group))

    def stage_totals(self, jobs: list[int]) -> dict[str, float]:
        """Stages, tasks, task seconds and bytes over ``jobs``' completed
        stages (skipped stages did no work)."""
        out = dict(stages=0, tasks=0, task_s=0.0, input_mb=0.0, shuffle_write_mb=0.0, spill_mb=0.0)
        if self.sc is None or not jobs:
            return out
        store = self.sc._jsc.sc().statusStore()
        seen = set()
        for j in jobs:
            ids = store.job(j).stageIds().iterator()
            while ids.hasNext():
                sid = ids.next()
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_s"] += sd.executorRunTime() / 1000.0
                out["input_mb"] += sd.inputBytes() / 1e6
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
        return out

    # -- reading the spans ----------------------------------------------------
    @property
    def last_op(self) -> int:
        return self._op

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def to_json(self) -> list[dict]:
        return [
            dict(id=s.id, op=s.op, parent=s.parent, name=s.name, layer=s.layer,
                 start=s.start, end=s.end, jobs=s.jobs)
            for s in self.spans
        ]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its wall minus the walls of its direct children."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def layer_self_s(tracer: Tracer, op: int, layer: str) -> float:
    """Self time of ``layer``'s spans in one op."""
    spans = [dict(s.__dict__) for s in tracer.op_spans(op)]
    selfs = self_times(spans)
    return sum(selfs[s["id"]] for s in spans if s["layer"] == layer)


def check_spans(spans: list[dict], tol: float = 1e-6) -> list[str]:
    """Problems with a span list: every span is a root or has a parent in
    the same op, children nest inside their parent's interval, and the
    self times of an op's spans sum to the op's wall."""
    problems = []
    by_id = {s["id"]: s for s in spans}
    roots = {}
    for s in spans:
        if not s["end"] >= s["start"]:
            problems.append(f"span {s['id']} {s['name']} ends before it starts")
        p = s["parent"]
        if p is None:
            roots[s["op"]] = s
            continue
        parent = by_id.get(p)
        if parent is None or parent["op"] != s["op"]:
            problems.append(f"span {s['id']} {s['name']} has no parent {p} in op {s['op']}")
            continue
        if s["start"] < parent["start"] - tol or s["end"] > parent["end"] + tol:
            problems.append(f"span {s['id']} {s['name']} is outside parent {parent['name']}")
    if {s["op"] for s in spans} - set(roots):
        problems.append("an op has no root span")
    if problems:
        return problems
    selfs = self_times(spans)
    for op, root in roots.items():
        total = sum(selfs[s["id"]] for s in spans if s["op"] == op)
        wall = root["end"] - root["start"]
        if abs(total - wall) > tol * max(1.0, wall):
            problems.append(f"op {op}: self times sum to {total} s, wall {wall} s")
    return problems


def install(tracer: Tracer, targets) -> None:
    """Replace each ``(owner, attribute, span name, layer)`` with a traced
    wrapper, for the rest of the process."""
    for owner, attr, name, layer in targets:
        setattr(owner, attr, tracer.wrap(getattr(owner, attr), name, layer))


def targets():
    """The module-level calls ``run_job`` makes, the state store, and the
    mtable and mview calls of the lakehouse workload and of the query it
    runs."""
    from w4h_etl_container_spark.pipeline import charts, forecast, job, mtable, mview, serve, state

    out = [
        (job, "run_job", "job.run_job", "job"),
        (job, "discover_latest_source", "job.discover", "job"),
        (forecast, "run_forecast", "forecast.build", "forecast"),
        (forecast, "write_snapshot", "snapshot.write", "forecast"),
        (serve, "run_serve", "serve", "serve"),
        (charts, "cyclic_point_union", "charts.cyclic_union", "charts"),
        (charts, "daily_extremes", "charts.extremes_build", "charts"),
        (charts, "render_charts", "charts.render", "charts"),
    ]
    for m in ("try_lock", "unlock", "latest_source", "commit_source", "register_chart", "expire_charts"):
        out.append((state.StateStore, m, f"state.{m}", "state"))
    for m in ("create", "merge", "read", "compact"):
        out.append((mtable, f"mtable_{m}", f"mtable.{m}", "mtable"))
    for m in ("create", "refresh", "read"):
        out.append((mview, f"mv_{m}", f"mview.{m}", "mview"))
    return out


#: Span layers: ``bench`` is the benchmark's own code between layer
#: calls, ``spark`` an action the benchmark itself starts; the rest are
#: the program's modules.
LAYERS = ("bench", "job", "forecast", "serve", "charts", "state", "plans", "mtable", "mview", "spark")


def op_row(tracer: Tracer, root: Span) -> dict[str, float]:
    """Additive metrics of one traced op: Spark jobs and stage totals,
    Catalyst time, each layer's self time, the op's wall and the part of
    it no layer span covers."""
    spans = [dict(s.__dict__) for s in tracer.op_spans(root.op)]
    jobs = sorted({j for s in spans for j in s["jobs"]})
    row = {f"spark.{k}": v for k, v in tracer.stage_totals(jobs).items()}
    row["spark.jobs"] = len(jobs)
    row["catalyst.plan_s"] = tracer.catalyst.get(root.op, 0.0)
    selfs = self_times(spans)
    for layer in LAYERS:
        row[f"self_s.{layer}"] = 0.0
    for s in spans:
        row[f"self_s.{s['layer']}"] += selfs[s["id"]]
    row["wall_s"] = root.wall
    return row
