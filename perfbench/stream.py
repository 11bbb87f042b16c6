"""The stream half of ``machine_events``: the continuous path.

Open loop. A fleet of ``FLEET`` machines is simulated with the same
generator and cut into drops of ``DROP_MINUTES`` event minutes; drop ``k``
lands atomically (rename from a staging dir) in the watched directory
``k * PERIOD_S`` seconds after the phase starts, whether or not the
queries kept up. Two queries watch the directory:
``pipeline_stream.start_pipeline`` (cleanse, rules, watermarked hourly
rollup, foreachBatch parquet sink) and ``sessionize_stream`` over
``cleanse(read_event_stream(...))`` (state store, parquet file sink). A
drop's latency runs from its scheduled time to the later of the two
commits of the micro-batches that read it.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.common import Run, dir_bytes, median, sleep_until

FLEET = 2
DROP_MINUTES = 10
PERIOD_S = 1.75
WARMUP_DROPS = 1
DRAIN_TIMEOUT_S = 60.0
START = "2024-06-03"
QUERIES = ("pipeline_stream", "sessionize_stream")
PROGRESS_MS = {"add_batch_ms": "addBatch", "query_planning_ms": "queryPlanning",
               "wal_commit_ms": "walCommit", "latest_offset_ms": "latestOffset",
               "trigger_ms": "triggerExecution"}


@dataclass
class Drop:
    staged: Path
    rows: int
    size: int
    ends: Counter  # Cycle_End rows per machine


@dataclass
class State:
    watched: Path
    rollup: Path
    sessions: Path
    drops: list[Drop]
    flush: Drop
    landed: list[Drop] = field(default_factory=list)
    queries: dict = field(default_factory=dict)
    rows_before: int = 0
    due: list[float] = field(default_factory=list)
    late_ms: list[float] = field(default_factory=list)


def _stage(gen, rows: list, path: Path) -> Drop:
    gen.write_csv(gen.SimResult(rows=rows, error_rates={}), path)
    return Drop(path, len(rows), path.stat().st_size,
                Counter(r[1] for r in rows if r[2] == "Cycle_End"))


def inputs(work_dir: Path, seed: int, seconds: float) -> State:
    """Simulate the fleet and stage one CSV per drop, plus a flush drop a
    day later whose watermark closes every window of the measured drops."""
    from projekt_data_engineering_iubh_spark.pipeline import generate_data as gen

    work_dir = work_dir / "stream"
    staging = work_dir / "staging"
    staging.mkdir(parents=True)
    (work_dir / "watched").mkdir()
    n = WARMUP_DROPS + math.ceil(seconds / PERIOD_S)
    start = dt.datetime.fromisoformat(START)
    buckets: list[list] = [[] for _ in range(n)]
    flush: list = []
    next_day = (start + dt.timedelta(days=1)).date().isoformat()
    for m in range(FLEET):
        machine = f"FL{m:02d}"
        res = gen.simulate_day(machine, START, hours=n * DROP_MINUTES / 60,
                               seed=seed * 7919 + m)
        for row in res.rows:
            t = dt.datetime.fromisoformat(row[0][:19])
            k = int((t - start).total_seconds() // (DROP_MINUTES * 60))
            buckets[min(k, n - 1)].append(row)
        flush += gen.simulate_day(machine, next_day, hours=0.01,
                                  seed=seed * 7919 + m).rows
    drops = [_stage(gen, rows, staging / f"drop_{k:03d}.csv")
             for k, rows in enumerate(buckets)]
    return State(work_dir / "watched", work_dir / "rollup",
                 work_dir / "sessions", drops,
                 _stage(gen, flush, staging / "drop_flush.csv"))


def _land(state: State, d: Drop) -> None:
    os.replace(d.staged, state.watched / d.staged.name)
    state.landed.append(d)


def _start(run: Run, state: State) -> None:
    from projekt_data_engineering_iubh_spark.pipeline.config import DEFAULT_RULES
    from projekt_data_engineering_iubh_spark.pipeline.daily_aggregator import cleanse
    from projekt_data_engineering_iubh_spark.streaming import pipeline_stream as ps
    from projekt_data_engineering_iubh_spark.streaming.sessionize_stream import (
        sessionize_stream,
    )

    spark, ck = run.spark, state.watched.parent / "checkpoints"
    state.queries["pipeline_stream"] = ps.start_pipeline(
        spark, str(state.watched), str(state.rollup), DEFAULT_RULES,
        checkpoint_dir=str(ck / "rollup"))
    state.queries["sessionize_stream"] = (
        sessionize_stream(cleanse(ps.read_event_stream(spark, str(state.watched))))
        .writeStream.format("parquet").outputMode("append")
        .option("path", str(state.sessions))
        .option("checkpointLocation", str(ck / "sessions"))
        .start())


def _progress(q) -> list[dict]:
    return [dict(p) for p in q.recentProgress]


def _drain(state: State, timeout_s: float) -> bool:
    """Wait until both queries have read every landed row."""
    total = sum(d.rows for d in state.landed)
    deadline = time.perf_counter() + timeout_s
    while time.perf_counter() < deadline:
        for q in state.queries.values():
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
        if all(sum(p["numInputRows"] for p in _progress(q)) >= total
               for q in state.queries.values()):
            return True
        time.sleep(0.05)
    return False


def warm(run: Run, state: State) -> None:
    """Start both queries and run the warm-up drops through them."""
    _start(run, state)
    for d in state.drops[:WARMUP_DROPS]:
        _land(state, d)
        for q in state.queries.values():
            q.processAllAvailable()
    state.rows_before = sum(d.rows for d in state.landed)


def measure(run: Run, state: State, seconds: float) -> None:
    """Land the drops on their schedule; then drain and read the commits."""
    t0 = time.perf_counter()
    wall0 = time.time() - t0  # perf_counter -> epoch seconds
    for i, d in enumerate(state.drops[WARMUP_DROPS:]):
        t = t0 + i * PERIOD_S
        if t >= t0 + seconds:
            break
        sleep_until(t)
        state.late_ms.append((time.perf_counter() - t) * 1000.0)
        _land(state, d)
        state.due.append(wall0 + t)
    _collect(run, state)


def _commit_times(progress: list[dict], rows_before: int,
                  drop_rows: list[int]) -> list[float | None]:
    """Epoch commit time of the micro-batch that read each drop: the first
    data trigger whose cumulative input covers the drop."""
    triggers = []
    cum = 0
    for p in progress:
        if not p["numInputRows"]:
            continue
        cum += p["numInputRows"]
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
        triggers.append((cum, start.timestamp()
                         + p["durationMs"]["triggerExecution"] / 1000.0))
    out = []
    need = rows_before
    for rows in drop_rows:
        need += rows
        out.append(next((end for c, end in triggers if c >= need), None))
    return out


def _collect(run: Run, state: State) -> None:
    """After the last drop: drain, then per-drop commit latency and
    per-query trigger phases from each query's own progress records."""
    measured = state.landed[WARMUP_DROPS:]
    drained = _drain(state, DRAIN_TIMEOUT_S)
    progress = {name: _progress(q) for name, q in state.queries.items()}
    commits = {name: _commit_times(p, state.rows_before, [d.rows for d in measured])
               for name, p in progress.items()}
    latency_ms = []
    for k in range(len(measured)):
        run.attempted += 1
        done = [commits[name][k] for name in QUERIES]
        if not drained or None in done:
            run.op_failed(f"drop {k} not committed within {DRAIN_TIMEOUT_S} s")
            continue
        latency_ms.append((max(done) - state.due[k]) * 1000.0)

    rows = busy_ms = 0
    for name, prog in progress.items():
        cum, data, nodata = 0, [], 0
        for p in prog:
            cum += p["numInputRows"]
            if cum <= state.rows_before:
                continue  # warm-up triggers
            if p["numInputRows"]:
                data.append(p)
            elif "addBatch" in p["durationMs"]:
                nodata += 1
        for key, phase in PROGRESS_MS.items():
            run.layers[f"{name}.{key}"] = (
                median([p["durationMs"].get(phase, 0) for p in data]) if data else 0.0)
        run.layers[f"{name}.data_triggers"] = len(data)
        run.layers[f"{name}.nodata_triggers"] = nodata
        ops = prog[-1].get("stateOperators") or []
        run.layers[f"{name}.state_rows"] = sum(o["numRowsTotal"] for o in ops)
        run.layers[f"{name}.state_bytes"] = sum(o["memoryUsedBytes"] for o in ops)
        rows += sum(p["numInputRows"] for p in data)
        busy_ms += sum(p["durationMs"]["triggerExecution"] for p in data)
    run.layers["bench.generator_late_ms"] = max(state.late_ms)
    run.rows += rows
    run.busy_s += busy_ms / 1000.0
    run.report["stream_drops"] = len(measured)
    run.report["stream_commit_p50_ms"] = median(latency_ms) if latency_ms else None
    run.report["stream_generator_late_p50_ms"] = median(state.late_ms)


def window_mismatches(stream_rows: list[dict], batch_rows: list[dict]) -> list[str]:
    """Closed stream windows against the batch rollup over the same files:
    the same set of windows, counts exact, averages to 1e-9 relative."""
    key = lambda r: (str(r["summary_date"]), int(r["hour_of_day"]), r["machine_id"])
    stream = {key(r): r for r in stream_rows}
    batch = {key(r): r for r in batch_rows}
    out = [f"window {k} closed by the stream, not in the batch rollup"
           for k in stream.keys() - batch.keys()]
    out += [f"window {k} never closed by the stream"
            for k in batch.keys() - stream.keys()]
    for k in stream.keys() & batch.keys():
        r, b = stream[k], batch[k]
        for c in ("n_events", "total_error_count"):
            if r[c] != b[c]:
                out.append(f"window {k}: {c}={r[c]} batch {b[c]}")
        for c in ("avg_pick_force", "avg_place_force"):
            x, y = r[c], b[c]
            if (x is None) != (y is None) or (
                    x is not None and not math.isclose(x, y, rel_tol=1e-9)):
                out.append(f"window {k}: {c}={x} batch {y}")
    return sorted(out)


def check(run: Run, state: State) -> None:
    """Land the flush drop, then compare both sinks with batch truth."""
    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.pipeline.config import DEFAULT_RULES
    from projekt_data_engineering_iubh_spark.pipeline.daily_aggregator import (
        read_events_csv,
    )
    from projekt_data_engineering_iubh_spark.streaming.pipeline_stream import (
        hourly_error_rollup,
    )

    _land(state, state.flush)
    for q in state.queries.values():
        q.processAllAvailable()
    for q in state.queries.values():
        q.stop()
    spark = run.spark
    # the flush drop's own windows stay open; every earlier one is closed
    batch = (hourly_error_rollup(read_events_csv(spark, str(state.watched)),
                                 DEFAULT_RULES)
             .where(F.col("hour_window.start") < F.lit(START).cast("date")
                    + F.expr("INTERVAL 1 DAY"))
             .select(F.to_date("hour_window.start").alias("summary_date"),
                     F.hour("hour_window.start").alias("hour_of_day"), "*")
             .collect())
    closed = spark.read.parquet(str(state.rollup)).collect()
    for problem in window_mismatches([r.asDict() for r in closed],
                                     [r.asDict() for r in batch]):
        run.op_failed(f"rollup {problem}")

    ends = Counter()
    for d in state.landed:
        ends.update(d.ends)
    sess = (spark.read.parquet(str(state.sessions)).where("closed")
            .groupBy("machine_id")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum((F.col("n_events") != 8).cast("int")).alias("bad"))
            .collect())
    got = {r["machine_id"]: (r["n"], r["bad"]) for r in sess}
    want = {m: (n, 0) for m, n in ends.items()}
    if got != want:
        run.op_failed(f"sessions per machine {got}, expected {want}")
    run.report["stream_bytes_per_input_byte"] = (
        (dir_bytes(state.rollup) + dir_bytes(state.sessions))
        / sum(d.size for d in state.landed))
