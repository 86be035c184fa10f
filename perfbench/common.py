"""What the three workloads share: operation bookkeeping and statistics."""

from __future__ import annotations

import statistics
import sys
import time
import traceback

FAILED = object()  # what an operation that raised returns


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def pct(xs: list[float], p: int) -> float:
    """The p-th percentile (1 <= p <= 99)."""
    if len(xs) < 2:
        return xs[0] if xs else float("nan")
    return statistics.quantiles(xs, n=100)[p - 1]


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class Workload:
    """Base of the three workloads. A subclass generates its inputs in
    `__init__` (from the seed, untimed), builds its engine objects and runs
    its warm-up pass (each of its operations once) in `setup`, and runs one
    round of its operation mix in `round`. Every operation goes through
    `timed`, and every output check through `expect`, so an operation that
    raises or returns a wrong result counts as failed."""

    name = ""
    # the engine functions the traced run wraps: (module, attribute, span)
    WRAPPED: tuple[tuple[str, str, str], ...] = ()

    # the operation kind whose latency is the workload's request latency
    REQUEST = ""

    def __init__(self):
        self.tracer = None  # set by the runner before setup
        self.attempted = 0
        self.failed = 0
        self.rounds: list[float] = []
        self.times: dict[str, list[float]] = {}
        self._round_s = 0.0
        self.recording = False  # False during set-up: warm-up is not timed

    def timed(self, kind: str, fn, *args, span: str | None = None, **kwargs):
        """Run one operation, counted in `attempted`, timing fn alone. An
        operation that raises counts as failed and returns FAILED; the time
        of one that returns is recorded under `kind` once the measured
        rounds have started. The traced run records the operation as span
        `span` (default `op.<kind>`)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span or f"op.{kind}"):
                res = fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            print(f"[{self.name}] {kind} raised:", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            return FAILED
        if self.recording:
            dt = time.perf_counter() - t0
            self.times.setdefault(kind, []).append(dt)
            self._round_s += dt
        return res

    def expect(self, what: str, ok: bool, detail: str = "") -> bool:
        """Record one output check, made outside the timed region; a wrong
        output counts as a failed operation."""
        if not ok:
            self.failed += 1
            print(f"[{self.name}] check failed: {what} {detail}", file=sys.stderr)
        return ok

    def run(self, seconds: float) -> None:
        """Closed loop, one client: whole rounds, starting another while
        less than `seconds` have passed; at least one. A round's time is
        the sum of its timed operations; checks are not counted."""
        self.recording = True
        t0 = time.perf_counter()
        while not self.rounds or time.perf_counter() - t0 < seconds:
            self._round_s = 0.0
            self.round()
            self.rounds.append(self._round_s)

    # subclasses -------------------------------------------------------
    def setup(self, spark) -> None:
        raise NotImplementedError

    def round(self) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        """Checks made after the measured rounds, outside the peak memory
        that the run reports."""

    def end_to_end(self) -> tuple[dict, dict]:
        """(request_p50_s and rows_per_s; the workload's own named metrics
        as {name: (value, unit)})."""
        raise NotImplementedError

    def layers(self, spans, setup_spans) -> dict:
        """Per-layer metrics from the spans of the measured rounds (and of
        the set-up, for layers that only run there)."""
        raise NotImplementedError
