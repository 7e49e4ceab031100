"""Spans around calls into the library, tied to Spark's status store.

A span records (id, name, parent, operation id, start, end). While a
span is the innermost open one, the Spark jobs the driver thread starts
carry the span's job group, so after the operation the status store
gives each span its jobs and their stages: executor run time, shuffle
bytes and per-task run times.

Library functions that only *plan* a DataFrame (``build_sharded``,
``build_partials_multi``, ``tree_merge``) are traced as ``lazy`` spans:
their job group stays set after they return, so the jobs that later
execute the plan they produced are attributed to them, until the next
span starts or the enclosing span ends.

Spans are kept in memory; ``run.py`` writes them once at the end.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        self._prefix = f"perfbench-{os.getpid()}-"
        self.op_id: int | None = None

    # -- spans -------------------------------------------------------------

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    @contextlib.contextmanager
    def span(self, name: str, *, lazy: bool = False):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": self._next_id,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op_id,
            "group": f"{self._prefix}{self._next_id}",
            "start": time.perf_counter(),
            "end": None,
        }
        self._next_id += 1
        self._stack.append(rec)
        self._set_group(rec["group"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if not lazy:
                self._set_group(self._stack[-1]["group"] if self._stack else None)

    @contextlib.contextmanager
    def aux(self):
        """Jobs the tracer itself starts (lineage reads): kept out of
        every span's group, restored afterwards."""
        saved = self.sc.getLocalProperty("spark.jobGroup.id")
        self._set_group(self._prefix + "aux")
        try:
            yield
        finally:
            self._set_group(saved)

    # -- library patching --------------------------------------------------

    def wrap(self, fn, name: str, *, lazy: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, lazy=lazy):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patched(self, patches):
        """Enable tracing and swap ``(module, attr, replacement)``
        triples in for the duration; always restores the originals."""
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
        for mod, attr, repl in patches:
            setattr(mod, attr, repl)
        self.enabled = True
        try:
            yield
        finally:
            self.enabled = False
            self._set_group(None)
            for mod, attr, orig in saved:
                setattr(mod, attr, orig)

    # -- status store ------------------------------------------------------

    def resolve(self, spans: list[dict]) -> None:
        """Attach each span's jobs and stage metrics (``rec["jobs"]``,
        ``rec["stages"]``). Call after the operation, outside its
        timing."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in spans:
            jobs, stages, seen = [], [], set()
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                wall = (
                    done.get().getTime() - sub.get().getTime()
                    if sub.isDefined() and done.isDefined()
                    else 0
                )
                jobs.append({"job_id": jid, "wall_ms": wall})
                sids = jd.stageIds()  # a Scala Seq
                for sid in (sids.apply(i) for i in range(sids.size())):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() != "COMPLETE":
                        continue  # skipped: its output was reused
                    tasks = store.taskList(sid, sd.attemptId(), 1 << 20)
                    task_ms = []
                    for i in range(tasks.size()):
                        m = tasks.apply(i).taskMetrics()
                        if m.isDefined():
                            task_ms.append(m.get().executorRunTime())
                    stages.append(
                        {
                            "stage_id": sid,
                            "run_ms": sd.executorRunTime(),
                            "shuffle_write_bytes": sd.shuffleWriteBytes(),
                            "shuffle_read_bytes": sd.shuffleReadBytes(),
                            "task_ms": task_ms,
                        }
                    )
            rec["jobs"] = jobs
            rec["stages"] = stages


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time in seconds: its duration minus the part of
    that interval its child spans cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


_SUBPACKAGES = ("operators", "plans", "sketches", "sources", "streaming")


def layer_of(span_name: str) -> str:
    """The module a span's name starts with: ``sketches.base.tree_merge``
    -> ``sketches.base``, ``functions.register_contains_udf`` ->
    ``functions``. Benchmark-own spans (``op.*``) and Spark actions the
    benchmark starts (``spark.*``) are layers of their own."""
    parts = span_name.split(".")
    return ".".join(parts[:2]) if parts[0] in _SUBPACKAGES else parts[0]
