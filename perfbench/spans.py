"""Spans with Spark counters, recorded from outside the program.

A span times one block of benchmark code (one public call into a layer) and
attaches the counters of every Spark job that ran inside it, read from the
driver's status store. The store is populated with the UI disabled.

Jobs are attributed to a span by job-id window, not by job group: the
engine launches some jobs from its own thread pools (concurrent cache fills
and sink writes), and those threads do not inherit the caller's job group.
The benchmark runs one operation at a time, so every job that starts
inside a span's window belongs to it. The job group is still set, so the
jobs launched from the span's own thread carry the span name.

Spans are held in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError

#: Counter suffixes attached to every span, in report order.
COUNTERS = (
    "wall_s", "jobs", "stages", "tasks", "exec_run_s",
    "input_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    name: str
    op_id: int
    parent: str | None
    start: float
    end: float = 0.0
    wall_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[Span] = []
        self._stack: list[str] = []

    def _drain(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def _jobs(self) -> dict:
        return {j.jobId(): j for j in _seq(self._jsc.statusStore().jobsList(None))}

    @contextmanager
    def span(self, name: str, op_id: int):
        self._drain()
        before = max(self._jobs(), default=-1)
        parent = self._stack[-1] if self._stack else None
        s = Span(name=name, op_id=op_id, parent=parent, start=time.time())
        self._stack.append(name)
        self.sc.setJobGroup(f"op{op_id}:{name}", name)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.wall_s = time.perf_counter() - t0
            s.end = time.time()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(f"op{op_id}:{parent}", parent)
            self._drain()
            self._attach(s, [j for jid, j in self._jobs().items() if jid > before])
            self.spans.append(s)

    def _attach(self, s: Span, jobs: list) -> None:
        store = self._jsc.statusStore()
        stage_ids = {sid for j in jobs for sid in _seq(j.stageIds())}
        s.jobs = len(jobs)
        for sid in stage_ids:
            try:
                sd = store.stageAttempt(sid, 0, False, None, False, None)._1()
            except Py4JJavaError:  # stage evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            s.stages += 1
            s.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
            s.exec_run_s += sd.executorRunTime() / 1000.0
            s.input_bytes += sd.inputBytes()
            s.shuffle_write_bytes += sd.shuffleWriteBytes()
            s.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    def last(self, name: str) -> Span | None:
        for s in reversed(self.spans):
            if s.name == name:
                return s
        return None

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
