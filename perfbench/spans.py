"""Spans around the engine's layers, with Spark stage metrics.

Spans are recorded from outside the engine: operator spans wrap the
public functions the workloads call, and inner spans come from wrappers
patched onto module attributes the operators look up at call time
(``slmpy_spark.graph.slm.materialize`` and the like).  Kernels that run
inside Python workers cannot be wrapped from here; their time shows up
as task time of the enclosing operator span.

Each operator span runs under its own Spark job group.  At span exit
the tracer drains the listener bus and reads the group's jobs from
``statusTracker()`` and their stages from the JVM status store
(``lastStageAttempt``, ``taskSummary``), which also work with the UI
disabled.

The pure helpers at the top (interval union, self time, quartile
summary, metric-name validation) carry no Spark dependency and are unit
tested in ``test_helpers.py``.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import time
from dataclasses import asdict, dataclass, field

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}\Z")


def check_metric_name(name: str) -> str:
    """Metric names: a letter or digit, then up to 63 letters, digits,
    `_`, `.` or `-`."""
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def interval_union(intervals) -> float:
    """Total length covered by the union of closed intervals (a, b);
    empty and inverted intervals cover nothing."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        elif b > cur_b:
            cur_b = b
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def clip(intervals, lo: float, hi: float):
    """Intervals cut to the window [lo, hi]."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals]


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its children cover."""
    return (end - start) - interval_union(clip(children, start, end))


def summarize(values) -> dict:
    """Median and quartiles as `statistics.quantiles(n=4)` gives them,
    with the sample count."""
    vals = list(values)
    if not vals:
        raise ValueError("summarize() needs at least one value")
    if len(vals) == 1:
        q1 = q3 = vals[0]
    else:
        q1, _, q3 = statistics.quantiles(vals, n=4)
    return {"median": statistics.median(vals), "q1": q1, "q3": q3, "n": len(vals)}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)


class StagesEvicted(RuntimeError):
    """The status store no longer holds a span's jobs or stages."""


def stage_metrics(sc, group: str, start: float, end: float) -> dict:
    """Stage metrics of every job run under `group`, for the span that
    ran from `start` to `end` (seconds since the epoch)."""
    from py4j.protocol import Py4JJavaError

    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            raise StagesEvicted(f"job {jid} of {group}")
        stage_ids.update(int(s) for s in info.stageIds)
    quant = sc._gateway.new_array(sc._jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    out = {
        "spark_jobs": len(job_ids), "spark_stages": 0, "spark_tasks": 0,
        "task_time_s": 0.0, "straggler_s": 0.0, "shuffle_read_mb": 0.0,
        "shuffle_write_mb": 0.0, "spill_mb": 0.0, "peak_exec_mem_mb": 0.0,
    }
    active = []
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError as exc:  # NoSuchElementException: evicted
            raise StagesEvicted(f"stage {sid} of {group}") from exc
        if sd.status().toString() == "SKIPPED":
            continue
        out["spark_stages"] += 1
        out["spark_tasks"] += sd.numCompleteTasks()
        out["task_time_s"] += sd.executorRunTime() / 1e3
        out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        out["peak_exec_mem_mb"] = max(
            out["peak_exec_mem_mb"], sd.peakExecutionMemory() / 2**20
        )
        summary = store.taskSummary(sid, sd.attemptId(), quant)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            out["straggler_s"] += (run.apply(1) - run.apply(0)) / 1e3
        if sd.submissionTime().isDefined() and sd.completionTime().isDefined():
            active.append((
                sd.submissionTime().get().getTime() / 1e3,
                sd.completionTime().get().getTime() / 1e3,
            ))
    out["driver_gap_s"] = (end - start) - interval_union(clip(active, start, end))
    return out


class Tracer:
    """Collects spans for one run; `enabled=False` makes every method a
    no-op apart from running the wrapped call."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._groups = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                  run_id=self.run_id, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    @contextlib.contextmanager
    def operator(self, layer: str, **attrs):
        """A top-level span around one public operator call, under its
        own job group; Spark stage metrics land in the span's attrs."""
        if not self.enabled:
            yield None
            return
        self._groups += 1
        group = f"perfbench-{self.run_id}-{self._groups}"
        self.sc.setJobGroup(group, layer)
        with self.span(layer, group=group, **attrs) as sp:
            yield sp
        t0 = time.time()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        sp.attrs.update(stage_metrics(self.sc, group, sp.start, sp.end))
        self.overhead_s += time.time() - t0

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace `owner.attr` with a spanned wrapper until `close()`.
        Only the outermost of nested calls (recursion) opens a span."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self  # the closure outlives this call

        def wrapped(*a, **kw):
            if any(tracer.spans[i].name == name for i in tracer._stack):
                return orig(*a, **kw)
            with tracer.span(name):
                return orig(*a, **kw)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        """Write every span, with its self time, as JSON lines."""
        children: dict[int, list] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append((sp.start, sp.end))
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                rec = asdict(sp)
                rec["self_s"] = self_time(sp.start, sp.end, children.get(i, []))
                f.write(json.dumps(rec) + "\n")
