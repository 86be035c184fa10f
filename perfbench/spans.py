"""Spans around the engine's public functions, recorded from the benchmark's
own files: no code is added to the program.

`Tracer.wrap(module, attr, name)` replaces `module.attr` with a wrapper.
Only callers that resolve the attribute at call time see the wrapper, so the
wrapped attribute is always the one the caller looks up (for example
`meerkat_spark.kql.execute_kql`, which `MeerkatEngine.kql` imports on every
call, or `meerkat_spark.text.dedup.minhash_lsh_pairs`, a module global of
`fuzzy_dedup`).

Each span runs its Spark jobs under a job group of its own and restores the
parent's group on exit, so a span's counters are its self counters: the
jobs of nested spans are counted once, in the innermost span. Right after a
span ends, the listener bus is drained and the counters are read from
`statusTracker` and `statusStore().lastStageAttempt`, before the bounded
status store can evict the span's jobs.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs", "stages", "tasks", "task_cpu_s", "task_run_s",
    "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    name: str
    seconds: float  # wall time of the span
    self_seconds: float  # minus the wall time of nested spans
    counters: dict = field(default_factory=dict)  # self counters
    path: tuple[str, ...] = ()  # names of the enclosing spans, outermost first


class Tracer:
    """Records spans while `enabled`; when not, every hook is a pass-through.
    `bind` points it at the current session's SparkContext."""

    def __init__(self, enabled: bool):
        self.sc = None
        self.enabled = enabled
        self.spans: list[Span] = []
        self.fired: set[str] = set()
        self.overhead_s = 0.0  # time spent in span bookkeeping
        self._patches: list[tuple[object, str, object]] = []
        self._stack: list[list] = []  # [name, child seconds] per open span
        self.last_result: dict[str, object] = {}  # by span name
        self._seq = 0

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    # ------------------------------------------------------------ wrapping
    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace `owner.attr` with a wrapper that records span `name` and
        keeps the call's result in `last_result[name]`."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                res = orig(*args, **kwargs)
            self.last_result[name] = res
            return res

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # --------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        e0 = time.perf_counter()
        self.fired.add(name)
        sc = self.sc
        parent_group = sc.getLocalProperty("spark.jobGroup.id")
        parent_desc = sc.getLocalProperty("spark.job.description")
        self._seq += 1
        group = f"perfbench-{self._seq}"
        sc.setJobGroup(group, name)
        path = tuple(f[0] for f in self._stack)
        self._stack.append([name, 0.0])
        t0 = time.perf_counter()
        try:
            yield
        finally:
            x0 = time.perf_counter()
            dt = x0 - t0
            children = self._stack.pop()[1]
            if self._stack:
                self._stack[-1][1] += dt
            # restore the parent's group (or none) before reading counters
            if parent_group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                sc.setLocalProperty("spark.job.interruptOnCancel", None)
            else:
                sc.setJobGroup(parent_group, parent_desc or "")
            counters = self._counters(group)
            self.overhead_s += (t0 - e0) + (time.perf_counter() - x0)
            self.spans.append(Span(name, dt, dt - children, counters, path))

    def _counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0)
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue  # never submitted: nothing ran
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["task_run_s"] += sd.executorRunTime() / 1e3
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def take(self) -> list[Span]:
        """Spans recorded since the last take(), oldest first."""
        out, self.spans = self.spans, []
        return out


def within(spans: list[Span], prefix: str) -> list[Span]:
    """The spans named `prefix*` and every span nested in one of them."""
    return [
        s for s in spans
        if s.name.startswith(prefix) or any(p.startswith(prefix) for p in s.path)
    ]


def count(spans: list[Span], key: str) -> float:
    return sum(s.counters[key] for s in spans)
