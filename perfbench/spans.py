"""Spans around the benchmark's calls into the engine, and Spark's own
counters attributed to those calls by job group.

Spans are recorded only by the benchmark's code, never inside the engine:
each holds a name, start and end (seconds on the ``perf_counter`` clock),
its parent span and the operation it belongs to. They stay in memory and
are written out once, when the run ends. A disabled :class:`Tracer` hands
out a shared no-op context, so the untraced run pays nothing for it.

Stage counters come from Spark's monitoring REST API (the endpoint
``operators/introspect.py`` reads) in one fetch after the timed passes. A
job belongs to an operation's build or run because the benchmark ran that
call under the job group ``<workload>:<op>:build`` or ``<workload>:<op>:run``,
with the pass number in the job description.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
import urllib.request
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

#: (REST stage field, counter name) summed per traced pass.
STAGE_FIELDS = (
    ("numTasks", "tasks"),
    ("executorRunTime", "executor_run_ms"),
    ("executorCpuTime", "executor_cpu_ns"),
    ("jvmGcTime", "gc_ms"),
    ("memoryBytesSpilled", "memory_spill_bytes"),
    ("diskBytesSpilled", "disk_spill_bytes"),
    ("shuffleWriteBytes", "shuffle_write_bytes"),
    ("shuffleReadBytes", "shuffle_read_bytes"),
    ("inputBytes", "input_bytes"),
    ("outputBytes", "output_bytes"),
    ("outputRecords", "output_records"),
)
_HTTP_TIMEOUT_S = 60
_LISTENER_TIMEOUT_MS = 60_000


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, op: str | None = None) -> contextlib.AbstractContextManager:
        if not self.enabled:
            return contextlib.nullcontext()
        return self._record(name, op)

    @contextlib.contextmanager
    def _record(self, name: str, op: str | None) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(len(self.spans), name, parent, op, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def descendants(self, root: Span) -> list[Span]:
        out, frontier = [], {root.id}
        for s in self.spans[root.id + 1:]:
            if s.parent in frontier:
                out.append(s)
                frontier.add(s.id)
        return out

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it that direct children cover."""
        covered, last = 0.0, s.start
        for c in sorted((c for c in self.spans if c.parent == s.id), key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return s.duration - covered

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
             "start": s.start, "end": s.end}
            for s in self.spans
        ]


def _ms(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp() * 1000.0


def job_tag(group: str, pass_no: int) -> str:
    """The job description a call of ``group`` in pass ``pass_no`` runs under."""
    return f"{group} #{pass_no}"


def fetch_rest(spark) -> tuple[dict[int, dict], dict[int, dict]]:
    """All retained jobs and completed stages, keyed by id, after draining
    the listener bus so the last job's events are in the status store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(_LISTENER_TIMEOUT_MS)
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(f"{base}/{path}", timeout=_HTTP_TIMEOUT_S) as r:
            return json.load(r)

    jobs = {j["jobId"]: j for j in get("jobs")}
    stages: dict[int, dict] = {}
    for s in get("stages?status=complete"):
        stages.setdefault(s["stageId"], s)  # first attempt listed wins
    return jobs, stages


def job_counters(job_ids: Iterable[int], jobs: dict[int, dict],
                 stages: dict[int, dict]) -> dict[str, float]:
    """Summed counters of ``job_ids``: jobs, their wall time, and the
    counters of the stages they ran (stages skipped by reuse never reach
    the ``complete`` list, so nothing is counted twice)."""
    out = {"jobs": 0, "job_ms": 0.0, "stages": 0}
    out.update({name: 0 for _, name in STAGE_FIELDS})
    seen: set[int] = set()
    for jid in job_ids:
        j = jobs.get(jid)
        if j is None:
            continue
        out["jobs"] += 1
        if j.get("completionTime") and j.get("submissionTime"):
            out["job_ms"] += _ms(j["completionTime"]) - _ms(j["submissionTime"])
        for sid in j["stageIds"]:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            out["stages"] += 1
            for api, name in STAGE_FIELDS:
                out[name] += int(stages[sid].get(api) or 0)
    return out
