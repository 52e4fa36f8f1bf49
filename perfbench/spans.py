"""Spans around the package's public calls, with each span's Spark footprint.

A span records its name, start, end, parent and request id, and sets a
Spark job group of its own while it is open, so every job it triggers is
attributable.  Footprints (jobs, stages, tasks, bytes, executor CPU) are read
from Spark's status store after the run, once the listener bus has drained;
reading them while spans are open would add the reads to the parents' time.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """User+sys CPU seconds of ``root`` and every live descendant, including
    the reaped children each one has waited for (the JVM and its Python
    workers are descendants of the benchmark process)."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / _TICK


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: str
    start: float
    end: float = 0.0
    cpu0: float = 0.0
    cpu1: float = 0.0

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes every span a no-op,
    so the untimed and timed paths run the same benchmark code."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._requests = itertools.count(1)

    def new_request(self, kind: str) -> str:
        return f"{kind}-{next(self._requests)}"

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            next(self._ids), name, parent.id if parent else None,
            request or (parent.request if parent else name), 0.0,
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(f"pb-{sp.id}", name)
        sp.cpu0 = tree_cpu_s()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.cpu1 = tree_cpu_s()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"pb-{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a pass-through that opens a span."""
        fn = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        setattr(module, attr, traced)

    # -- footprints --------------------------------------------------------
    def footprints(self) -> tuple[dict[int, dict], dict[int, dict]]:
        """Own and inclusive footprint per span id: its own job group, and
        that plus every descendant's.  Skipped stages (reused shuffle output)
        count nothing."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        own: dict[int, dict] = {}
        for sp in self.spans:
            fp = dict(jobs=0, stages=0, tasks=0, input_bytes=0, output_bytes=0,
                      shuffle_bytes=0, spill_bytes=0, jvm_cpu_s=0.0)
            for jid in tracker.getJobIdsForGroup(f"pb-{sp.id}"):
                info = tracker.getJobInfo(jid)
                fp["jobs"] += 1
                for sid in (info.stageIds if info else []):
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # py4j: stage never ran, not in store
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    fp["stages"] += 1
                    fp["tasks"] += st.numTasks()
                    fp["input_bytes"] += st.inputBytes()
                    fp["output_bytes"] += st.outputBytes()
                    fp["shuffle_bytes"] += st.shuffleWriteBytes()
                    fp["spill_bytes"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
                    fp["jvm_cpu_s"] += st.executorCpuTime() / 1e9
            own[sp.id] = fp
        inclusive = {sid: dict(fp) for sid, fp in own.items()}
        for sp in reversed(self.spans):  # children were opened after parents
            if sp.parent is not None:
                for k, v in inclusive[sp.id].items():
                    inclusive[sp.parent][k] += v
        return own, inclusive

    def self_s(self) -> dict[int, float]:
        out = {sp.id: sp.s for sp in self.spans}
        for sp in self.spans:
            if sp.parent is not None:
                out[sp.parent] -= sp.s
        return out

    def records(self) -> list[dict]:
        """Every span with its footprint, in start order (for the trace file
        and the compare tool)."""
        own, inclusive = self.footprints()
        selfs = self.self_s()
        return [
            dict(id=sp.id, name=sp.name, parent=sp.parent, request=sp.request,
                 s=sp.s, self_s=selfs[sp.id], cpu_s=sp.cpu1 - sp.cpu0,
                 **inclusive[sp.id], own=own[sp.id])
            for sp in self.spans
        ]
