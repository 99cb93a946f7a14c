"""Spans recorded from outside the program, with Spark work attributed to them.

A span is one call into a layer: name, start, end, parent span and the run
id. Spans stay in memory and are written out when the run ends. Work is
attributed by DAGScheduler counters read at span start and end — the job-id
delta gives the span's jobs and the stage-id range its stages — because job
groups misattribute work inside ``foreachBatch``: the callback runs on the
streaming thread, not the one that set the group. Stage metrics (task time,
shuffle bytes) come from the application status store after the listener
bus has drained; the executor summary's ``totalDuration`` is not used, as in
Spark 4.1 it tracks wall time, not task time.

The benchmark drives one thing at a time (the main thread waits in
``awaitTermination`` while batches run), so spans nest strictly and one
stack serves every thread.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time
from typing import Callable

from py4j.protocol import Py4JJavaError

from perfbench.stats import self_times

# Per-span fields derived from the status store, summed over the stages a
# span's stage-id range holds.
STAGE_FIELDS = ("stages", "task_s", "shuffle_read_bytes", "shuffle_write_bytes")


def tree_stats(root: str) -> tuple[int, int]:
    """(files, bytes) under a directory; (0, 0) if it does not exist."""
    files = size = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            try:
                size += os.path.getsize(os.path.join(d, f))
            except FileNotFoundError:  # removed while walking
                continue
            files += 1
    return files, size


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, spark, run_id: str) -> None:
        self.run_id = run_id
        self._jsc = spark.sparkContext._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []
        # seconds spent in the tracer's own bookkeeping (counter reads,
        # directory walks) — the measured cost of tracing
        self.overhead_s = 0.0
        self.missing_stages = 0

    def _counters(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    @contextlib.contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        job0, stage0 = self._counters()
        rec = {
            "id": len(self.spans),
            "run": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            job1, stage1 = self._counters()
            rec["jobs"] = job1 - job0
            rec["stage_range"] = (stage0, stage1)
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def add(self, name: str, value: float) -> None:
        """Accumulate a count measured at a layer boundary."""
        self.counts[name] = self.counts.get(name, 0) + value

    def peak(self, name: str, value: float) -> None:
        self.counts[name] = max(self.counts.get(name, value), value)

    def timed_walk(self, root: str) -> tuple[int, int]:
        """``tree_stats`` charged to the tracer's overhead."""
        t = time.perf_counter()
        out = tree_stats(root)
        self.overhead_s += time.perf_counter() - t
        return out

    def wrap(self, name: str, fn: Callable, after: Callable | None = None) -> Callable:
        """``fn`` inside a span; ``after(args, kwargs)`` runs in the span once
        the call returned, for counts taken at the boundary."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
                if after is not None:
                    after(args, kwargs)
                return out

        return traced

    def resolve(self) -> None:
        """Fill each span's stage metrics and self time. Call once, after the
        traced work: it drains the listener bus so the status store holds
        every finished stage."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        cache: dict[int, tuple | None] = {}

        def stage(sid: int):
            if sid not in cache:
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the store or never created
                    cache[sid] = None
                else:
                    cache[sid] = (
                        sd.status().toString() == "COMPLETE",
                        sd.executorRunTime() / 1000.0,
                        sd.shuffleReadBytes(),
                        sd.shuffleWriteBytes(),
                    )
            return cache[sid]

        for rec in self.spans:
            tot = dict.fromkeys(STAGE_FIELDS, 0)
            for sid in range(*rec["stage_range"]):
                st = stage(sid)
                if st is None:
                    self.missing_stages += 1
                    continue
                done, task_s, rd, wr = st
                if done:  # skipped stages reuse earlier shuffle output
                    tot["stages"] += 1
                    tot["task_s"] += task_s
                    tot["shuffle_read_bytes"] += rd
                    tot["shuffle_write_bytes"] += wr
            rec.update(tot)
        for sid, s in self_times(self.spans).items():
            self.spans[sid]["self_s"] = s

    def layers(self) -> dict[str, dict]:
        """Per span name: summed wall, self time, calls, jobs and stage
        fields (spans of one name never nest, so sums do not double-count)."""
        out: dict[str, dict] = {}
        for rec in self.spans:
            agg = out.setdefault(
                rec["name"],
                {"wall_s": 0.0, "self_s": 0.0, "calls": 0, "jobs": 0, **dict.fromkeys(STAGE_FIELDS, 0)},
            )
            agg["wall_s"] += rec["end"] - rec["start"]
            agg["self_s"] += rec["self_s"]
            agg["calls"] += 1
            agg["jobs"] += rec["jobs"]
            for f in STAGE_FIELDS:
                agg[f] += rec[f]
        return out


@contextlib.contextmanager
def patched(*targets: tuple[object, str, Callable]):
    """Temporarily replace attributes: ``(owner, name, make)`` sets
    ``owner.name = make(original)`` and restores it on exit."""
    saved = [(owner, name, getattr(owner, name)) for owner, name, _ in targets]
    try:
        for (owner, name, make), (_, _, orig) in zip(targets, saved):
            setattr(owner, name, make(orig))
        yield
    finally:
        for owner, name, orig in saved:
            setattr(owner, name, orig)
