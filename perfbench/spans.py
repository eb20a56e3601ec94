"""Spans and per-call Spark counters, recorded from outside the program.

A span has a name (``<layer>.<what>``), start, end, parent and request id.
Spans stay in memory and are written out once, when the run ends.  In the
traced mode every request also runs under its own Spark job group, and the
jobs of that group are read back from the application status store (which
exists with the UI off): job wall time, tasks, input rows and bytes, shuffle
writes, spills and executor CPU.

``NullTracer`` is the untraced mode: the same calls, no recording, no job
groups, no listener-bus waits.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None
    id: int
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        """``plans.result_mv.refresh`` -> ``plans.result_mv``; else the
        first dotted component."""
        if self.name.startswith("plans.result_mv"):
            return "plans.result_mv"
        return self.name.split(".", 1)[0]

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


@dataclass
class SparkCounters:
    jobs: int = 0
    tasks: int = 0
    job_ms: float = 0.0
    run_ms: float = 0.0
    input_rows: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    cpu_ms: float = 0.0


class NullTracer:
    enabled = False

    def __init__(self) -> None:
        self.spark = None

    def attach(self, spark) -> None:
        self.spark = spark

    @contextmanager
    def span(self, name: str, **attrs):
        yield None

    @contextmanager
    def request(self, kind: str):
        yield None

    def finish(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self) -> None:
        super().__init__()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._request: str | None = None
        self._n_requests = 0
        self.groups: dict[str, SparkCounters] = {}
        self.own_s = 0.0  # time spent inside the tracer itself
        self.request_overhead_s = 0.0  # the part of own_s inside requests

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one call into a layer.  The span's job group (its own id)
        makes its Spark jobs attributable; the parent's group is restored
        on exit."""
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, 0.0, 0.0, parent, self._request, sid, dict(attrs))
        self.spans.append(s)
        self._stack.append(sid)
        self._set_group(f"s{sid}")
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(f"s{self._stack[-1]}" if self._stack else None)

    @contextmanager
    def request(self, kind: str):
        self._n_requests += 1
        self._request = f"r{self._n_requests}"
        own = self.own_s
        try:
            with self.span(f"client.{kind}") as s:
                yield s
        finally:
            self._request = None
            self.request_overhead_s += self.own_s - own

    def _set_group(self, group: str | None) -> None:
        if self.spark is None:
            return
        t = time.perf_counter()
        sc = self.spark.sparkContext
        if group is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(group, group)
        self.own_s += time.perf_counter() - t

    def counters(self, span: Span) -> SparkCounters:
        """Spark work of the jobs run directly inside ``span`` (not its
        children), read back from the status store."""
        t = time.perf_counter()
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        c = SparkCounters()
        for job_id in sc.statusTracker().getJobIdsForGroup(f"s{span.id}"):
            job = store.job(job_id)
            c.jobs += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                c.job_ms += (
                    job.completionTime().get().getTime() - job.submissionTime().get().getTime()
                )
            stages = job.stageIds()
            for i in range(stages.size()):
                try:
                    st = store.lastStageAttempt(stages.apply(i))
                except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                c.tasks += st.numCompleteTasks()
                c.run_ms += st.executorRunTime()
                c.input_rows += st.inputRecords()
                c.input_bytes += st.inputBytes()
                c.shuffle_write_bytes += st.shuffleWriteBytes()
                c.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
                c.cpu_ms += st.executorCpuTime() / 1e6
        self.groups[f"s{span.id}"] = c
        self.own_s += time.perf_counter() - t
        return c

    def total(self, spans: list[Span]) -> SparkCounters:
        """Counters summed over ``spans`` and all their descendants."""
        ids = {s.id for s in spans}
        for s in self.spans:
            if s.parent in ids:
                ids.add(s.id)
        out = SparkCounters()
        for sid in ids:
            c = self.groups.get(f"s{sid}")
            if c is None:
                continue
            for k in vars(out):
                setattr(out, k, getattr(out, k) + getattr(c, k))
        return out

    def finish(self) -> None:
        """Read the counters of every closed span (after the timed work, so
        the listener-bus wait costs nothing inside a request; also before a
        SparkContext restart, which drops the status store)."""
        for s in self.spans:
            if s.end and f"s{s.id}" not in self.groups:
                self.counters(s)

    def self_ms(self, spans: list[Span]) -> dict[str, float]:
        """Self time per layer over ``spans``: each span's duration minus
        the part its children cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.ms
        out: dict[str, float] = {}
        for s in spans:
            out[s.layer] = out.get(s.layer, 0.0) + s.ms - child.get(s.id, 0.0)
        return out

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                c = self.groups.get(f"s{s.id}")
                f.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "request": s.request,
                            **({"attrs": s.attrs} if s.attrs else {}),
                            **({"spark": vars(c)} if c and c.jobs else {}),
                        }
                    )
                    + "\n"
                )
