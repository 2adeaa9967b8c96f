"""In-memory span recorder and call wrappers for the traced benchmark run.

A :class:`Tracer` wraps public functions of sparkfts (and the fuzzy DP in
``oracle.fuzzy`` that the Searcher calls) so every call records a span:
name, start, end, parent span and request id.  Spans stay in a list and
are written out once, when the run ends.  Self time of a span is its
duration minus the time its child spans cover; the Spark driver is one
thread, so children never overlap.

Only calls in the Spark driver are seen.  Work inside Spark tasks runs in
Python worker processes and is counted through Spark's status tracker
instead (:func:`spark_work`).
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        # (name, start, end, parent index or -1, request id)
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.request: str | None = None
        self.paused = False
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        if self.paused:
            yield
            return
        parent = self._stack[-1] if self._stack else -1
        rec = [name, time.perf_counter(), None, parent, self.request]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def count(self, key: str, n: float = 1) -> None:
        if not self.paused:
            self.counts[key] += n

    # -- wrappers ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, after=None,
             before=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.

        ``owner`` is a module or a class.  For a module function, every
        loaded ``sparkfts``/``oracle`` module that imported the same
        function object by name is patched too, so ``from x import f``
        call sites are traced.  ``before(tracer, args, kwargs)`` and
        ``after(tracer, args, kwargs, result)`` record counters.
        """
        fn = owner.__dict__[attr]

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if before is not None and not self.paused:
                before(self, args, kwargs)
            with self.span(name):
                result = fn(*args, **kwargs)
            if after is not None and not self.paused:
                after(self, args, kwargs, result)
            return result

        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m for n, m in list(sys.modules.items())
                if m is not None and m is not owner
                and n.split(".")[0] in ("sparkfts", "oracle")
                and getattr(m, attr, None) is fn
            ]
        for t in targets:
            self._restore.append((t, attr, fn))
            setattr(t, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    # -- results -----------------------------------------------------------

    def self_times(self) -> dict[str, tuple[float, int]]:
        """name -> (total self seconds, call count)."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent >= 0 and t1 is not None:
                child[parent] += t1 - t0
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            if t1 is None:
                continue
            out[name][0] += (t1 - t0) - child[i]
            out[name][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def total_times(self) -> dict[str, tuple[float, int]]:
        """name -> (total inclusive seconds, call count)."""
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for name, t0, t1, _, _ in self.spans:
            if t1 is not None:
                out[name][0] += t1 - t0
                out[name][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, t0, t1, parent, req in self.spans:
                f.write(json.dumps({
                    "name": name, "start": t0, "end": t1,
                    "parent": parent, "request": req,
                }) + "\n")


@contextmanager
def spark_work(spark, group: str, out: dict):
    """Count the Spark jobs, stages and tasks launched inside the block.

    Sets a job group for the block and reads it back from the status
    tracker afterwards; ``out`` receives ``jobs``, ``stages``, ``tasks``.
    """
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                st = tracker.getStageInfo(s)
                stages += 1
                tasks += st.numTasks if st else 0
        out.update(jobs=len(jobs), stages=stages, tasks=tasks)
