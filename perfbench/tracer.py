"""Spans around the library's public functions, recorded from outside.

The tracer patches functions and methods of ``dataval_spark`` in this
process only; no file under ``dataval_spark/`` changes. Each span runs
under its own Spark job group, so the jobs, stages and tasks of a span
are read back from ``statusTracker()`` once the op has finished. Spans
stay in memory until the run ends and are then written out as JSON
lines.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench-span-"


class Tracer:
    """Records nested spans; ``enabled`` switches recording on per op."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jvm = spark._jvm
        self.enabled = False
        self.op: int | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._patched: list[tuple[object, str, object]] = []

    # -- instrumentation ---------------------------------------------------
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a traced wrapper that records span
        ``name``. ``after(span, result, args)`` runs once the call returns,
        outside the span's own time, to attach counts to it."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name) as sp:
                result = fn(*args, **kwargs)
            if after is not None:
                t0 = time.perf_counter()
                after(sp, result, args)
                tracer.overhead_s += time.perf_counter() - t0
            return result

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    @contextmanager
    def span(self, name: str):
        """Time ``name``; Spark jobs started inside (and outside any child
        span) land in this span's job group."""
        if not self.enabled:
            yield {}
            return
        t_enter = time.perf_counter()
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": self._next_id,
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "name": name,
            "group": f"{GROUP_PREFIX}{self._next_id}",
        }
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        self.overhead_s += sp["start"] - t_enter
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - sp["end"]

    # -- Spark counters ----------------------------------------------------
    def collect_spark_counts(self) -> None:
        """Attach jobs, stages run, tasks run and tasks failed to every span
        that has none yet. Call after the op: all its jobs have ended."""
        # the status store is filled from the listener bus; drain it so the
        # last jobs' stages and tasks are in before they are read
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        st = self.sc._jsc.statusTracker()  # Java API: has submissionTime
        for sp in self.spans:
            if "jobs" in sp:
                continue
            jobs = stages = tasks = failed = 0
            for job_id in st.getJobIdsForGroup(sp["group"]):
                jobs += 1
                info = st.getJobInfo(job_id)
                for stage_id in info.stageIds() if info is not None else ():
                    si = st.getStageInfo(stage_id)
                    # skipped stages (shuffle output reused) never submit
                    if si is None or si.submissionTime() <= 0:
                        continue
                    stages += 1
                    tasks += si.numCompletedTasks()
                    failed += si.numFailedTasks()
            sp.update(jobs=jobs, stages=stages, tasks=tasks, tasks_failed=failed)

    def gc_seconds(self) -> float:
        """Total collection time of every JVM garbage collector so far."""
        mf = self._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3

    def persistent_rdds(self) -> int:
        return int(self.sc._jsc.sc().getPersistentRDDs().size())

    def jvm_peak_rss_mb(self) -> float:
        """VmHWM (peak resident set) of the driver JVM, in MiB."""
        pid = self._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    # -- derived values ----------------------------------------------------
    def op_spans(self, op: int) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def write(self, path: str) -> None:
        """Write every span as one JSON line, with its self time."""
        by_parent: dict[int, list[dict]] = {}
        for s in self.spans:
            by_parent.setdefault(s["parent"], []).append(s)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["id"]):
                out = {k: v for k, v in s.items() if k not in ("start", "end")}
                out["dur_s"] = s["end"] - s["start"]
                out["self_s"] = self_time(s, by_parent.get(s["id"], []))
                f.write(json.dumps(out) + "\n")


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it that its children cover."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], span["start"]), min(c["end"], span["end"])
        if hi <= lo:
            continue
        if cur_end is None or lo > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = lo, hi
        else:
            cur_end = max(cur_end, hi)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (span["end"] - span["start"]) - covered


def subtree(spans: list[dict], root: dict) -> list[dict]:
    """``root`` and every span nested under it."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out
