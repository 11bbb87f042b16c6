"""State shared by the workloads: the run record, spans, statistics."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    """One timed call into a layer. ``group`` is the Spark job group its
    jobs ran under, so the event log can be joined back to the span."""

    id: int
    name: str
    parent: int | None
    request: str | None
    start_ms: float
    end_ms: float = 0.0

    @property
    def group(self) -> str:
        return f"{self.name}#{self.id}"


class Tracer:
    """Spans around the benchmark's calls into the package, kept in memory.

    Disabled, ``span`` is a bare context manager and no job group is set,
    so untraced runs carry no tracing cost."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(len(self.spans), name, parent.id if parent else None, request,
                 time.time() * 1000.0)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield
        finally:
            s.end_ms = time.time() * 1000.0
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", self._stack[-1].group if self._stack else None
            )

    def self_ms(self) -> dict[int, float]:
        """Span duration minus the part of it its child spans cover."""
        out = {s.id: s.end_ms - s.start_ms for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.end_ms - s.start_ms
        return out


@dataclass
class Run:
    """What one measured phase records. Latencies are milliseconds;
    ``rows`` over ``busy_s`` is the workload's throughput."""

    spark: object
    tracer: Tracer
    work_dir: Path
    batch_ms: list[float] = field(default_factory=list)
    read_ms: list[float] = field(default_factory=list)
    rows: int = 0
    busy_s: float = 0.0
    store_bytes: int = 0
    input_bytes: int = 0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    report: dict[str, object] = field(default_factory=dict)

    def op_failed(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(what)

    @contextmanager
    def op(self, what: str):
        """Count one operation; an exception fails it, and the run goes on."""
        self.attempted += 1
        try:
            yield
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.op_failed(f"{what}: raised")


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("no samples")
    return statistics.median(xs)


def tail(xs: list[float]) -> dict[str, float] | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    for pct in (99, 95, 90, 75):
        if n * (100 - pct) / 100 >= 10:
            return {"pct": pct, "value": statistics.quantiles(xs, n=100)[pct - 1],
                    "samples": n}
    return None


def dir_bytes(path: Path) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM) from /proc."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def sleep_until(t: float) -> None:
    while (d := t - time.perf_counter()) > 0:
        time.sleep(min(d, 0.05))
