"""Spans recorded around calls into the engine's layers, and the Spark
work each span caused, read back from Spark's in-process status stores.

A span has a name, a start, an end, its parent span and the operation
(ETL iteration or HTTP request) it belongs to. Opening a span sets a
Spark job group unique to that span, so every job the call submits is
attributed to the innermost open span of its thread. After the run,
``collect_jobs`` and ``collect_sql`` read the jobs, stages and SQL plan
metrics of those groups from ``statusStore()`` (populated with the UI
off) — no extra jobs, nothing read inside the timed window.

Calls the program makes internally (``run_etl`` into the three
pipelines, the dashboard server into ``analytics.dashboard`` and
``analytics.render``) are traced by wrapping the module attributes the
caller looks up, for the traced run only; ``Tracer.restore`` puts the
originals back.
"""

from __future__ import annotations

import functools
import itertools
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float  # epoch seconds, comparable with Spark's job timestamps
    end: float
    thread: int

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.roots: dict[int, int] = {}  # op -> id of the op's root span
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[tuple[int, str, int]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current_op(self) -> int | None:
        stack = self._stack()
        return stack[-1][2] if stack else None

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, op: int, parent: int | None = None):
        """Open a span; ``parent`` defaults to the thread's open span and
        is given explicitly only to link across threads."""
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1][0]
        with self._lock:
            sid = next(self._ids)
            if parent is None:
                self.roots[op] = sid
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        stack.append((sid, name, op))
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            if stack:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{stack[-1][0]}", stack[-1][1])
            else:
                self.clear_group()
            with self._lock:
                self.spans.append(
                    Span(sid, name, op, parent, start, end, threading.get_ident())
                )

    def wrap(self, owner, attr: str, name: str, op_of=None) -> None:
        """Trace calls that go through ``owner.attr``. ``op_of(args,
        kwargs)`` names the operation of a call made on a thread with no
        open span (a server thread); such a call is linked to that
        operation's root span. Calls with no operation run untraced."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            op = self.current_op()
            parent = None
            if op is None and op_of is not None:
                op = op_of(args, kwargs)
                parent = self.roots.get(op)
            if op is None:
                if op_of is not None:
                    self.clear_group()  # a reused thread may carry a stale group
                return orig(*args, **kwargs)
            with self.span(name, op, parent):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # ------------------------------------------------------------ analysis

    def by_id(self) -> dict[int, Span]:
        return {s.id: s for s in self.spans}

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def ancestors(self, sid: int, spans: dict[int, Span]) -> list[Span]:
        """The span and every span above it, innermost first."""
        out = []
        while sid in spans:
            out.append(spans[sid])
            sid = spans[sid].parent
        return out

    def dump(self, jobs: list[dict]) -> dict:
        """Spans with their self time (duration minus the part of it that
        child spans cover) and the jobs each caused."""
        kids = self.children()
        by_span: dict[int, list[int]] = {}
        for j in jobs:
            by_span.setdefault(j["span"], []).append(j["id"])
        return {
            "spans": [
                {**asdict(s), "self_s": s.duration - covered(
                    [(c.start, c.end) for c in kids.get(s.id, [])], s.start, s.end),
                 "jobs": by_span.get(s.id, [])}
                for s in sorted(self.spans, key=lambda s: s.start)
            ],
            "jobs": jobs,
        }


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


# ---------------------------------------------------------- status stores

def _ms(option) -> float | None:
    return option.get().getTime() / 1000.0 if option.isDefined() else None


def _ints(scala_iterable) -> list[int]:
    return [int(x) for x in scala_iterable.mkString(",").split(",") if x]


def collect_jobs(sc) -> list[dict]:
    """Every job submitted under a span's group, with its stage totals."""
    store = sc._jsc.sc().statusStore()
    listed = store.jobsList(None)
    out = []
    for i in range(listed.size()):
        job = listed.apply(i)
        group = job.jobGroup()
        if group.isEmpty() or not group.get().startswith(GROUP_PREFIX):
            continue
        rec = {
            "id": job.jobId(),
            "span": int(group.get()[len(GROUP_PREFIX):]),
            "submitted": _ms(job.submissionTime()),
            "completed": _ms(job.completionTime()),
            "stages": 0, "tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
            "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            "first_launch": None,
        }
        for sid in _ints(job.stageIds()):
            stage = store.lastStageAttempt(sid)
            if stage.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused from another job
            rec["stages"] += 1
            rec["tasks"] += stage.numTasks()
            rec["run_ms"] += stage.executorRunTime()
            rec["cpu_ms"] += stage.executorCpuTime() / 1e6
            rec["gc_ms"] += stage.jvmGcTime()
            rec["shuffle_read"] += stage.shuffleReadBytes()
            rec["shuffle_write"] += stage.shuffleWriteBytes()
            rec["spill"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
            launch = _ms(stage.firstTaskLaunchedTime())
            if launch is not None and (rec["first_launch"] is None or launch < rec["first_launch"]):
                rec["first_launch"] = launch
        out.append(rec)
    return out


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}
_VALUE = re.compile(r"\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """A plan-node metric as Spark prints it, as a number: sizes in
    bytes, times in ms. A metric summed over several tasks reads
    'total (min, med, max (stageId: taskId))' then, on the next line,
    '712.2 KiB (1.0 KiB, 2.0 KiB, 9.9 KiB (stage 3.0: task 5))'; the
    total is the first number of the last line."""
    last = (text.strip().splitlines() or [""])[-1]
    match = _VALUE.match(last)
    if match is None:
        raise ValueError(f"no number in metric value {text!r}")
    num, unit = match.groups()
    return float(num.replace(",", "")) * _UNITS.get(unit, 1)


def metric_map(text: str) -> dict[int, str]:
    """``executionMetrics`` (accumulator id -> value) from its Scala
    ``mkString`` form: entries 'id -> value' joined by ``\\x01``."""
    out = {}
    for entry in text.split("\x01"):
        key, sep, value = entry.partition(" -> ")
        if sep:
            out[int(key)] = value
    return out


def plan_metric(text: str) -> tuple[str, int]:
    """(name, accumulator id) of an ``SQLPlanMetric(name,id,type)``."""
    name, acc, _ = text[text.index("(") + 1:-1].rsplit(",", 2)
    return name, int(acc)


def collect_sql(spark, job_span: dict[int, int]) -> list[dict]:
    """Plan-node metrics of every SQL execution whose jobs ran under a
    span: one record per node, ``{"span", "node", "metrics"}``. Node
    names and metric accumulator ids come from the execution's plan
    graph, the values from its recorded metrics."""
    store = spark._jsparkSession.sharedState().statusStore()
    listed = store.executionsList()
    out = []
    for i in range(listed.size()):
        execution = listed.apply(i)
        spans = [job_span[j] for j in _ints(execution.jobs().keys()) if j in job_span]
        if not spans:
            continue
        eid = execution.executionId()
        values = metric_map(store.executionMetrics(eid).mkString("\x01"))
        nodes = store.planGraph(eid).allNodes()
        for n in range(nodes.size()):
            node = nodes.apply(n)
            metrics = {}
            for text in node.metrics().mkString("\x01").split("\x01"):
                if not text:
                    continue
                name, acc = plan_metric(text)
                if acc in values:
                    try:
                        metrics[name] = metric_value(values[acc])
                    except ValueError:
                        pass
            out.append({"span": spans[0], "node": node.name(), "metrics": metrics})
    return out
