"""Spans around calls into the program's layers, kept in memory.

The wrappers live in the benchmark, around the program's public
functions, and record nothing unless ``enabled``; spans inside the
program itself are left for later.  A span's parent is the span open
when it started, so an op's self time is its wall minus the spans whose
parent is the op.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple[str, float, float, str | None]] = []
        self._stack: list[str] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append((name, t0, time.perf_counter(), parent))

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned call; ``on_result`` sees
        the return value of every traced call."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def take(self) -> list[tuple[str, float, float, str | None]]:
        """Spans recorded since the last call, cleared."""
        out, self.spans = self.spans, []
        return out


def layer_times(spans, op_name: str = "op") -> dict[str, float]:
    """Summed duration per span name, plus ``<op>.self_s``: the op's wall
    minus its direct children."""
    out: dict[str, float] = {}
    op_wall = child = 0.0
    for name, t0, t1, parent in spans:
        if name == op_name:
            op_wall += t1 - t0
            continue
        out[name] = out.get(name, 0.0) + (t1 - t0)
        if parent == op_name:
            child += t1 - t0
    out[f"{op_name}.self_s"] = op_wall - child
    return out


def group_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group``."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            stage = st.getStageInfo(s)
            if stage is not None:
                tasks += stage.numTasks
    return len(jobs), tasks
