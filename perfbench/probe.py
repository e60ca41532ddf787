"""Measurement from outside the library: Spark cost deltas, spans, RSS.

``SparkProbe`` reads job, stage, task, shuffle and spill counters from
Spark's ``AppStatusStore`` over py4j.  That store is filled by a
listener whether or not the UI runs.  Deltas are taken from the
monotonic maximum job and stage ids, not from list lengths, so a call
that runs more jobs than the store retains is still counted in full.
The counters are process-wide: calls must run one at a time, and jobs
started by a library thread pool inside a call are part of that call.

``Tracer`` records spans (name, start, end, parent, pass) for calls
into the library's public functions.  In a traced run each span also
carries its call's Spark deltas; self time is the span's duration minus
the time its child spans cover.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class SparkProbe:
    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore().store()
        for_name = sc._jvm.java.lang.Class.forName
        self._job_cls = for_name("org.apache.spark.status.JobDataWrapper")
        self._stage_cls = for_name("org.apache.spark.status.StageDataWrapper")

    def _newest(self, cls):
        it = self._store.view(cls).reverse().max(1).iterator()
        return it.next().info() if it.hasNext() else None

    def mark(self) -> tuple[int, int]:
        """(max job id, max stage id) seen so far."""
        self._bus.waitUntilEmpty()
        job, stage = self._newest(self._job_cls), self._newest(self._stage_cls)
        return (
            job.jobId() if job is not None else -1,
            stage.stageId() if stage is not None else -1,
        )

    def since(self, mark: tuple[int, int]) -> dict[str, int]:
        """Counters of every job and stage started after ``mark``."""
        self._bus.waitUntilEmpty()
        job = self._newest(self._job_cls)
        out = dict.fromkeys(_COUNTERS, 0)
        out["jobs"] = (job.jobId() if job is not None else -1) - mark[0]
        it = self._store.view(self._stage_cls).reverse().iterator()
        while it.hasNext():
            s = it.next().info()
            if s.stageId() <= mark[1]:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


@dataclass
class Span:
    name: str
    pass_id: int
    parent: int | None
    start: float
    end: float = 0.0
    spark: dict | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder.  Spans are always timed; ``traced`` adds Spark
    deltas to each one, which costs a listener-bus drain per span."""

    def __init__(self, probe: SparkProbe | None):
        self.probe = probe
        self.traced = False
        self.pass_id = -1
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sp = Span(
            name=name,
            pass_id=self.pass_id,
            parent=self._stack[-1] if self._stack else None,
            start=0.0,
            attrs=attrs,
        )
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        mark = self.probe.mark() if self.traced else None
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if mark is not None:
                sp.spark = self.probe.since(mark)
            self._stack.pop()

    def of_pass(self, pass_id: int, name: str | None = None) -> list[Span]:
        return [
            s
            for s in self.spans
            if s.pass_id == pass_id and (name is None or s.name == name)
        ]

    def dump(self, path: str) -> None:
        """One JSON line per span, with self time."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.dur
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(
                    json.dumps(
                        {
                            "id": i,
                            "name": s.name,
                            "pass": s.pass_id,
                            "parent": s.parent,
                            "start": round(s.start, 6),
                            "end": round(s.end, 6),
                            "self_s": round(s.dur - child_time[i], 6),
                            "spark": s.spark,
                            **s.attrs,
                        }
                    )
                    + "\n"
                )


def _hwm_kib(pid: str | int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """High-water RSS of this Python process plus the Spark JVM."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    return (_hwm_kib("self") + _hwm_kib(jvm_pid)) / 1024.0
