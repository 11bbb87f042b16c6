"""Decompose a Spark event log into per-layer rows.

The traced run writes an uncompressed, non-rolling event log and runs each
call into a layer under its own job group (``common.Tracer``). This module
joins the log's jobs, stages and tasks back to those spans and returns, for
each boundary, the median over its calls of:

* ``wall_ms``: the span's wall time;
* ``jobs`` and ``tasks``: jobs started under the span, tasks that ran;
* ``cpu_ms``, ``gc_ms``: executor CPU time and JVM GC time of those tasks;
* ``shuffle_write_bytes``, ``output_bytes``: bytes those tasks wrote;
* ``sched_gap_ms``: wall minus the union of the span's stage intervals,
  the time no stage of the span was running (driver and scheduler floor).

A span's jobs include those of its child spans. Every field the
decomposition reads is checked; a log that lacks one raises
``EventLogFormatError`` instead of yielding zeros.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

from perfbench.common import Span

SPARK_FIELDS = ("wall_ms", "jobs", "tasks", "cpu_ms", "gc_ms",
                "shuffle_write_bytes", "sched_gap_ms")


class EventLogFormatError(RuntimeError):
    pass


def _need(obj: dict, *keys: str):
    for k in keys:
        if not isinstance(obj, dict) or k not in obj:
            raise EventLogFormatError(
                f"event log field {k!r} missing in {str(obj)[:200]}")
        obj = obj[k]
    return obj


def parse(path: Path) -> dict:
    """Jobs by group, stage intervals and per-stage task totals."""
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stage_span: dict[int, tuple[float, float]] = {}
    stage_tot: dict[int, dict[str, float]] = defaultdict(
        lambda: defaultdict(float))
    seen_start = False
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = _need(ev, "Event")
            if kind == "SparkListenerLogStart":
                seen_start = True
            elif kind == "SparkListenerJobStart":
                jid = _need(ev, "Job ID")
                props = ev.get("Properties") or {}
                job_group[jid] = props.get("spark.jobGroup.id")
                for sid in _need(ev, "Stage IDs"):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageCompleted":
                info = _need(ev, "Stage Info")
                sid = _need(info, "Stage ID")
                stage_span[sid] = (float(_need(info, "Submission Time")),
                                   float(_need(info, "Completion Time")))
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics")
                if tm is None:  # a task that failed before reporting metrics
                    continue
                tot = stage_tot[_need(ev, "Stage ID")]
                tot["tasks"] += 1
                tot["cpu_ms"] += _need(tm, "Executor CPU Time") / 1e6
                tot["gc_ms"] += _need(tm, "JVM GC Time")
                tot["shuffle_write_bytes"] += _need(
                    tm, "Shuffle Write Metrics", "Shuffle Bytes Written")
                tot["output_bytes"] += _need(tm, "Output Metrics", "Bytes Written")
    if not seen_start:
        raise EventLogFormatError(f"{path}: no SparkListenerLogStart event")
    return {"job_group": job_group, "stage_job": stage_job,
            "stage_span": stage_span, "stage_tot": stage_tot}


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


def per_call(log: dict, spans: list[Span]) -> dict[int, dict[str, float]]:
    """One row per span, over the jobs of the span and its descendants."""
    owner: dict[str, int] = {s.group: s.id for s in spans}
    parent = {s.id: s.parent for s in spans}
    jobs_of: dict[int, list[int]] = defaultdict(list)
    for jid, group in log["job_group"].items():
        sid = owner.get(group)
        while sid is not None:
            jobs_of[sid].append(jid)
            sid = parent[sid]
    stages_of_job: dict[int, list[int]] = defaultdict(list)
    for stage, jid in log["stage_job"].items():
        stages_of_job[jid].append(stage)
    rows = {}
    for s in spans:
        stages = [st for j in jobs_of[s.id] for st in stages_of_job[j]]
        tot: dict[str, float] = defaultdict(float)
        for st in stages:
            for k, v in log["stage_tot"].get(st, {}).items():
                tot[k] += v
        wall = s.end_ms - s.start_ms
        covered = _union_ms(
            [log["stage_span"][st] for st in stages if st in log["stage_span"]],
            s.start_ms, s.end_ms)
        rows[s.id] = {
            "wall_ms": wall,
            "jobs": float(len(jobs_of[s.id])),
            "tasks": tot["tasks"],
            "cpu_ms": tot["cpu_ms"],
            "gc_ms": tot["gc_ms"],
            "shuffle_write_bytes": tot["shuffle_write_bytes"],
            "output_bytes": tot["output_bytes"],
            "sched_gap_ms": wall - covered,
        }
    return rows


def by_boundary(log_path: Path, spans: list[Span]) -> dict[str, dict[str, float]]:
    """Median over each boundary's calls of every per-call field."""
    rows = per_call(parse(log_path), spans)
    calls: dict[str, list[dict[str, float]]] = defaultdict(list)
    for s in spans:
        calls[s.name].append(rows[s.id])
    return {
        name: {k: statistics.median(r[k] for r in rs) for k in rs[0]}
        for name, rs in calls.items()
    }
