"""Benchmark-side tracing: spans around calls into the engine's layers,
and exact Spark job/task counts per operation.

Nothing here edits an engine file. ``Tracer.wrap`` rebinds a public
engine function (or method) to a recording wrapper in every loaded
``iot_etl_spark`` module that imported it by name, and ``restore`` puts
the originals back. Spans and counts are kept in memory and summarised
when the run ends. With tracing off no function is rebound.
"""

from __future__ import annotations

import contextlib
import importlib
import sys
import time
from collections import defaultdict
from collections.abc import Callable


class Tracer:
    """Records spans ``(op, name, start, end, parent)`` and per-op
    counters while ``active``; rebinds nothing until ``wrap`` is called."""

    def __init__(self) -> None:
        self.active = False
        self.op: int | None = None
        self.spans: list[tuple[int | None, str, float, float, str | None]] = []
        self.counts: dict[int | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._stack: list[str] = []
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append((self.op, name, t0, time.perf_counter(), parent))

    def count(self, name: str, n: float = 1) -> None:
        if self.active:
            self.counts[self.op][name] += n

    def op_time(self, op: int, name: str) -> float:
        """Total time of the outermost ``name`` spans of one op (nested
        calls of the same function are not counted twice)."""
        return sum(
            t1 - t0 for o, n, t0, t1, parent in self.spans if o == op and n == name and parent != name
        )

    # ---------------------------------------------------------- rebinding
    def wrap(
        self,
        owner: str,
        attr: str,
        span: str,
        around: Callable | None = None,
    ) -> None:
        """Rebind ``owner.attr`` (``owner`` is a module path, or
        ``module:Class`` for a method) to a wrapper that records a span
        named ``span``. ``around(call)``, if given, replaces the plain
        call and may record extra counts; it receives a zero-argument
        callable that performs the original call."""
        mod_name, _, cls_name = owner.partition(":")
        target = importlib.import_module(mod_name)
        if cls_name:
            target = getattr(target, cls_name)
        original = getattr(target, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.active:
                return original(*args, **kwargs)
            with tracer.span(span):
                call = lambda: original(*args, **kwargs)  # noqa: E731
                return around(call) if around is not None else call()

        wrapper.__wrapped__ = original
        wrapper.__name__ = getattr(original, "__name__", attr)
        holders = [target]
        if not cls_name:
            holders += [
                m
                for name, m in list(sys.modules.items())
                if m is not None
                and m is not target
                and (name.startswith("iot_etl_spark") or name == "__spark_entry__")
                and getattr(m, attr, None) is original
            ]
        for holder in holders:
            self._patched.append((holder, attr, original))
            setattr(holder, attr, wrapper)

    def restore(self) -> None:
        for holder, attr, original in reversed(self._patched):
            setattr(holder, attr, original)
        self._patched.clear()


class JobLedger:
    """One Spark job group per operation (and per sub-step, such as the
    writes of a pipeline run). Counts are resolved after a phase, once
    the listener bus has delivered every job-end event, so they repeat
    exactly from run to run."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.extra_jobs: dict[str, list[int]] = defaultdict(list)
        self._current: str | None = None

    def set_group(self, group: str) -> None:
        self._current = group
        self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def group(self, group: str):
        """Switch to ``group`` for a sub-step and back afterwards."""
        prev = self._current
        self.set_group(group)
        try:
            yield
        finally:
            if prev is None:
                self.clear()
            else:
                self.set_group(prev)

    def clear(self) -> None:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            self.sc.setLocalProperty(key, None)
        self._current = None

    def add_jobs(self, group: str, job_ids: list[int]) -> None:
        """Attribute jobs that ran under a group this ledger does not
        own (a streaming query's run id) to ``group``."""
        self.extra_jobs[group].extend(job_ids)

    def job_ids(self, group: str) -> list[int]:
        return sorted(set(self.sc.statusTracker().getJobIdsForGroup(group)) | set(self.extra_jobs[group]))

    def drain(self) -> None:
        """Wait until the listener bus has processed every event posted
        so far, so job and stage states are final."""
        bus = self.sc._jsc.sc().listenerBus()
        bus.waitUntilEmpty()

    def resolve(self, groups: list[str]) -> dict[str, tuple[int, int]]:
        """``group -> (jobs, tasks)``. A stage that an earlier group
        already ran (a reused shuffle) is not counted again."""
        self.drain()
        tracker = self.sc.statusTracker()
        seen: set[int] = set()
        out: dict[str, tuple[int, int]] = {}
        for g in groups:
            jobs = self.job_ids(g)
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    st = tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numCompletedTasks
            out[g] = (len(jobs), tasks)
        return out
