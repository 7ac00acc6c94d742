"""Spans and Spark counters for the traced benchmark run.

Spans come from wrappers the benchmark installs around public functions,
patched where each caller looks the name up (``executor.copy_table``,
``dedup.eager``, ...). A span records its name, start, end, parent span,
op id and thread; spans stay in memory until the run writes them out.
A wrapper that names a job group also sets ``spark.jobGroup.id`` in its
own thread for the call, so the status store can attribute each job to
the layer that launched it.

Spark counts come from the driver's status store, which is populated with
the UI off. It is read right after each op, before the retained-job and
retained-stage limits can evict anything.
"""

from __future__ import annotations

import itertools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    thread: str

    def as_dict(self) -> dict:
        return dict(self.__dict__)


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, None
    for s, e in sorted(intervals):
        if reach is None or s > reach:
            total += e - s
            reach = e
        elif e > reach:
            total += e - reach
            reach = e
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op: int | None = None
        self.op_root: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, group: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.op_root
        sid = next(self._ids)
        stack.append(sid)
        prev_group = None
        if group is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", group)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent, self.op,
                         threading.current_thread().name)
                )

    @contextmanager
    def op_span(self, op: int, name: str):
        """The root span of one op; spans opened in other threads while it
        is open take it as their parent."""
        self.op = op
        with self.span(name) as sid:
            self.op_root = sid
            try:
                yield sid
            finally:
                self.op_root = None
        self.op = None

    def wrap(self, fn, name: str, group: str | None = None):
        def traced(*args, **kwargs):
            with self.span(name, group):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # -- patching ----------------------------------------------------------

    def patch(self, module, attr: str, replacement) -> None:
        self._patches.append((module, attr, getattr(module, attr)))
        setattr(module, attr, replacement)

    def patch_everywhere(self, original, replacement, prefix: str) -> int:
        """Replace ``original`` in every loaded module under ``prefix`` that
        bound it to a global name; returns how many bindings changed."""
        n = 0
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(prefix):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self.patch(mod, attr, replacement)
                    n += 1
        return n

    def unpatch(self) -> None:
        while self._patches:
            module, attr, old = self._patches.pop()
            setattr(module, attr, old)

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]


class StatusReader:
    """Reads the jobs launched since the last read, and their stages, from
    the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        self.last_job = -1
        # job submission times are wall-clock ms; spans use perf_counter
        self.wall_offset = time.time() - time.perf_counter()

    def mark(self) -> None:
        """Skip every job launched so far."""
        self.new_jobs()

    def new_jobs(self) -> list[dict]:
        seq = self.store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                continue
            group = j.jobGroup()
            ids = j.stageIds()
            out.append(
                {
                    "id": jid,
                    "group": group.get() if group.isDefined() else None,
                    "submitted": (
                        j.submissionTime().get().getTime() / 1e3 - self.wall_offset
                        if j.submissionTime().isDefined()
                        else float("nan")
                    ),
                    "stages": [ids.apply(k) for k in range(ids.size())],
                }
            )
        if out:
            self.last_job = max(j["id"] for j in out)
        return sorted(out, key=lambda j: j["id"])

    def stages(self, stage_ids) -> dict[int, dict]:
        """Counters of the run (non-skipped) attempts of ``stage_ids``,
        summed over attempts."""
        wanted = set(stage_ids)
        out: dict[int, dict] = {}
        if not wanted:
            return out
        seq = self.store.stageList(None, False, False, self.empty, None)
        for i in range(seq.size()):
            s = seq.apply(i)
            sid = s.stageId()
            if sid not in wanted or s.status().toString() == "SKIPPED":
                continue
            d = out.setdefault(
                sid,
                {"tasks": 0, "failed_tasks": 0, "input_records": 0,
                 "shuffle_write_bytes": 0, "spill_bytes": 0},
            )
            d["tasks"] += s.numTasks()
            d["failed_tasks"] += s.numFailedTasks()
            d["input_records"] += s.inputRecords()
            d["shuffle_write_bytes"] += s.shuffleWriteBytes()
            d["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def gc_seconds(self) -> float:
        """Total collection time of the driver JVM's collectors (in local
        mode the executors run in the same JVM)."""
        beans = self.sc._jvm.java.lang.management.ManagementFactory
        beans = beans.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3
