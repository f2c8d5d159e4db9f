"""Spans and Spark counters for the traced run.

A span wraps one call into a layer of the package. It records wall time,
its parent span and op id, and the range of Spark job ids submitted while
it was open. Jobs are attributed by id range rather than by job group
alone, because the partition runner and streaming queries submit jobs
from threads that do not inherit the caller's group; the group is still
set per span so the jobs carry the span id as a tag.

Counters are read from outside the package after the op has finished:
job and stage data from Spark's status store, GC time from the JVM's
garbage-collector MXBeans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: int | None = None
        self.bookkeeping_s = 0.0  # time spent inside span entry and exit

    # -- raw readers ------------------------------------------------------
    def next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def gc_ms(self) -> int:
        mf = self.sc._gateway.jvm.java.lang.management.ManagementFactory
        return sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans())

    def drain_listener(self) -> None:
        """Block until the status store has seen every finished job."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_counters(self, first: int, end: int) -> dict:
        """Sum stage metrics over jobs ``first <= id < end``; also returns
        each job's [submission, completion] interval in epoch seconds."""
        store = self._jsc.statusStore()
        c = {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "task_gc_s": 0.0,
             "shuffle_write_mb": 0.0, "spill_mb": 0.0, "intervals": []}
        seen: set[int] = set()
        for jid in range(first, end):
            try:
                job = store.job(jid)
            except Exception:  # evicted from the store or never registered
                continue
            c["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                c["intervals"].append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage skipped: its output was reused
                    continue
                c["tasks"] += st.numCompleteTasks()
                c["executor_run_s"] += st.executorRunTime() / 1e3
                c["task_gc_s"] += st.jvmGcTime() / 1e3
                c["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
        return c

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = {"id": len(self.spans), "name": name, "op": self.op_id,
              "parent": parent["id"] if parent else None}
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"perfbench-span-{sp['id']}", name)
        sp["job_first"], sp["gc_ms0"] = self.next_job_id(), self.gc_ms()
        sp["start"] = time.time()
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            t1 = time.perf_counter()
            sp["job_end"], gc1 = self.next_job_id(), self.gc_ms()
            sp["jvm_gc_s"] = (gc1 - sp.pop("gc_ms0")) / 1e3
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - t1

    def finish_spans(self, spans: list[dict]) -> None:
        """Fill counters, self time and non-Spark driver time into
        ``spans``; call after the op, outside any timed region."""
        self.drain_listener()
        for sp in spans:
            c = self.job_counters(sp["job_first"], sp["job_end"])
            sp["dur_s"] = sp["end"] - sp["start"]
            sp["driver_nonspark_s"] = sp["dur_s"] - _covered(
                c.pop("intervals"), sp["start"], sp["end"]
            )
            sp.update(c)
        by_parent: dict = {}
        for sp in spans:
            by_parent.setdefault(sp["parent"], []).append(sp)
        for sp in spans:
            kids = by_parent.get(sp["id"], [])
            # children of one span run one after another on the driver
            # thread, so their durations do not overlap
            sp["self_s"] = sp["dur_s"] - sum(k["dur_s"] for k in kids)
            sp["self_jobs"] = sp["jobs"] - sum(k["jobs"] for k in kids)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
