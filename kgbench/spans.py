"""Spans around public engine calls, and executor figures per span.

`Tracer.install()` wraps, from outside the engine:
- `StageLedger.stage` (one span per pipeline stage, named after it);
- `score_candidates_stage`, both the pipeline's and the name bound in
  `plans.incremental`;
- `standing.publish_standing`;
- `candidates.blocked_candidates_multi` / `cross_candidates_multi` and
  `canonicalize.materialize_kg`, which the pipeline calls between
  stages and which already run jobs when called.
The benchmark opens one more span per operation (`Tracer.span`). The
engine runs some stages on its own thread pools, so `install()` also
wraps `ThreadPoolExecutor.submit`: a task adopts the span that was
open in the submitting thread, and its jobs and child spans land under
that span instead of in `unlabelled`.

Each span records (name, start, end, parent, thread) and sets a Spark
job group in the calling thread, so every job it submits carries the
span's id. `Ledger` reads the status store afterwards and folds
executor CPU, run time, tasks, records, shuffle and spill per job
group. Jobs outside any span, and jobs in an operation's own span but
in none of its layer spans, are `unlabelled`.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

GROUP_PREFIX = "kgb"


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    thread: str
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}:{self.sid}"


@dataclass
class Tracer:
    sc: object
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _local: threading.local = field(default_factory=threading.local)
    _undo: list = field(default_factory=list)

    def _stack(self) -> list[Span]:
        return self._local.__dict__.setdefault("stack", [])

    def _label(self, stack: list[Span]) -> None:
        if stack:
            self.sc.setJobGroup(stack[-1].group, stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def _enter(self, span: Span):
        t0 = time.perf_counter()
        stack = self._stack()
        stack.append(span)
        self._label(stack)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield span
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self._label(stack)
            self.overhead_s += time.perf_counter() - t1

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        s = Span(next(self._ids), name, time.perf_counter(),
                 stack[-1].sid if stack else None, threading.current_thread().name)
        self.spans.append(s)
        try:
            with self._enter(s):
                yield s
        finally:
            s.end = time.perf_counter()

    def _wrap(self, owner, attr: str, name_of):
        orig = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            with self.span(name_of(args, kwargs)):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from veealign_spark.operators import candidates, canonicalize
        from veealign_spark.plans import incremental, pipeline, standing

        tracer, submit = self, ThreadPoolExecutor.submit

        def adopting_submit(ex, fn, /, *args, **kwargs):
            stack = tracer._stack()
            if not stack:
                return submit(ex, fn, *args, **kwargs)
            parent = stack[-1]

            def task(*a, **k):
                with tracer._enter(parent):
                    return fn(*a, **k)

            return submit(ex, task, *args, **kwargs)

        ThreadPoolExecutor.submit = adopting_submit
        self._undo.append((ThreadPoolExecutor, "submit", submit))

        # StageLedger.stage(self, name, build): the span is the stage name
        self._wrap(pipeline.StageLedger, "stage", lambda a, k: a[1])
        for mod in (pipeline, incremental):
            self._wrap(mod, "score_candidates_stage", lambda a, k: "score_candidates_stage")
        self._wrap(standing, "publish_standing", lambda a, k: "publish_standing")
        # called between stages, these run jobs as soon as they are called:
        # a lazy localCheckpoint still runs the plan's shuffle stages
        for fn in ("blocked_candidates_multi", "cross_candidates_multi"):
            self._wrap(candidates, fn, lambda a, k: "candidates_plan")
        self._wrap(canonicalize, "materialize_kg", lambda a, k: "kg_plan")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def to_json(self) -> list[dict]:
        return [
            {"id": s.sid, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "thread": s.thread}
            for s in self.spans
        ]


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of it its child spans cover."""
    kids = [(max(c.start, span.start), min(c.end, span.end))
            for c in spans if c.parent == span.sid]
    return (span.end - span.start) - union_length([k for k in kids if k[1] > k[0]])


def python_worker_cpu_s() -> float:
    """CPU seconds used so far by Spark's Python workers: every process
    forked from the pyspark daemon, live (own time) or already reaped
    (in the daemon's children's time). The status store's executor
    CPU covers only the JVM's task threads, not this side of the Arrow
    boundary."""
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if f.read().split(b"\0")[1:3] != [b"-m", b"pyspark.daemon"]:
                    continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while being read
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def unlabelled_cpu_s(groups: dict[str, dict[str, float]], op: Span) -> float:
    """Executor CPU of an operation's jobs that no layer span covers:
    jobs without a group, and jobs run in the operation's own span `op`
    (the engine's driver code between stages) rather than in a span
    nested under it."""
    return sum(groups[g]["cpu_s"] for g in ("", op.group) if g in groups)


STAGE_FIELDS = ("cpu_s", "tasks", "input_records", "shuffle_write_bytes", "spill_bytes")


class Ledger:
    """Executor figures from the Spark status store, per job group.

    `mark()` returns the highest job id so far; `fold(since)` sums the
    stages of every job submitted after that mark, keyed by job group
    ('' for jobs without one), and also returns the job count.
    """

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self._empty_q = sc._gateway.new_array(sc._jvm.double, 0)

    def mark(self) -> int:
        jobs = self.store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def fold(self, since: int) -> tuple[dict[str, dict[str, float]], int]:
        jobs = self.store.jobsList(None)
        jobs = sorted((jobs.apply(i) for i in range(jobs.size())), key=lambda j: j.jobId())
        jobs = [j for j in jobs if j.jobId() > since]
        # a stage a later job reuses ran in the first job that listed it
        stage_group: dict[int, str] = {}
        for j in jobs:
            g = j.jobGroup()
            group = g.get() if g.isDefined() else ""
            ids = j.stageIds()
            for k in range(ids.size()):
                stage_group.setdefault(ids.apply(k), group)
        out: dict[str, dict[str, float]] = {}
        stages = self.store.stageList(None, False, False, self._empty_q, None)
        for i in range(stages.size()):
            st = stages.apply(i)
            group = stage_group.get(st.stageId())
            if group is None or st.status().toString() == "SKIPPED":
                continue
            acc = out.setdefault(group, dict.fromkeys(STAGE_FIELDS, 0.0))
            acc["cpu_s"] += st.executorCpuTime() / 1e9
            acc["tasks"] += st.numTasks()
            acc["input_records"] += st.inputRecords()
            acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
            acc["spill_bytes"] += st.diskBytesSpilled()
        return out, len(jobs)
