"""The batch half of ``machine_events``: batch → store → dashboard.

Closed loop, one client. Each seeded machine-day CSV lands and goes
through ``daily_aggregator.run`` into one warehouse; after each file the
client reads that day's dashboard ``READS_PER_FILE`` times. Set-up runs
``HISTORY_FILES`` files first: they warm the JVM and give ``run``'s
closing count of the whole events table a history to scan. The phase
ends by re-running the first measured file, so an idempotent partition
overwrite sits beside the appends.
"""

from __future__ import annotations

import datetime as dt
import time
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.common import Run

MACHINES = 3
FILE_HOURS = 0.5
HISTORY_FILES = 1
READS_PER_FILE = 3
BASE_DATE = dt.date(2024, 3, 4)

# generator error kind -> hourly summary column that counts it
ERROR_COLUMNS = {
    "as_vacuum": "as_vacuum_error_count",
    "pp_vacuum": "pp_vacuum_error_count",
    "as_blow": "as_release_error_count",
    "pp_blow": "pp_release_error_count",
    "pick": "pick_force_error_count",
    "place": "place_force_error_count",
}
TRUTH_COLUMNS = ("cycle_count", *ERROR_COLUMNS.values())


@dataclass
class Landed:
    path: Path
    machine: str
    day: str
    rows: int
    truth: dict[str, int]
    hours: int  # distinct cycle-start hours = summary rows of this file


@dataclass
class State:
    seed: int
    inputs: Path
    warehouse: Path
    files: list[Landed] = field(default_factory=list)


def land(state: State, k: int) -> Landed:
    """Generate file ``k`` of the seeded landing order and write it."""
    from projekt_data_engineering_iubh_spark.pipeline import generate_data as gen

    machine = f"DB{k % MACHINES:02d}"
    day = (BASE_DATE + dt.timedelta(days=k // MACHINES)).isoformat()
    res = gen.simulate_day(machine, day, hours=FILE_HOURS,
                           seed=state.seed * 1_000_003 + k)
    path = gen.write_csv(res, state.inputs / f"events_{machine}_{day}.csv")
    truth = {"cycle_count": res.n_cycles}
    truth.update({col: res.injected_errors[kind]
                  for kind, col in ERROR_COLUMNS.items()})
    hours = {r[0][11:13] for r in res.rows if r[2] == "Cycle_Start"}
    landed = Landed(path, machine, day, len(res.rows), truth, len(hours))
    state.files.append(landed)
    return landed


def summary_mismatches(actual: dict[tuple[str, str], dict[str, int]],
                       files: list[Landed]) -> list[str]:
    """Per machine-day, the summed summary counts against generator truth."""
    out = []
    for f in files:
        got = actual.get((f.day, f.machine))
        if got is None:
            out.append(f"{f.machine} {f.day}: no summary rows")
            continue
        for col in TRUTH_COLUMNS:
            if got[col] != f.truth[col]:
                out.append(f"{f.machine} {f.day}: {col}={got[col]} "
                           f"expected {f.truth[col]}")
    return out


def _summary_totals(spark, warehouse: Path) -> dict[tuple[str, str], dict[str, int]]:
    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.pipeline import serving

    rows = (serving.summary_table(spark, str(warehouse))
            .groupBy("summary_date", "machine_id")
            .agg(*[F.sum(c).alias(c) for c in TRUTH_COLUMNS])
            .collect())
    return {(str(r["summary_date"]), r["machine_id"]):
            {c: int(r[c]) for c in TRUTH_COLUMNS} for r in rows}


def _partition_rows(spark, warehouse: Path, f: Landed) -> list:
    from pyspark.sql import functions as F

    from projekt_data_engineering_iubh_spark.pipeline import serving

    return sorted(
        tuple(r) for r in serving.summary_table(spark, str(warehouse))
        .where((F.col("summary_date") == F.lit(f.day).cast("date"))
               & (F.col("machine_id") == f.machine)).collect())


def _write(run: Run, state: State, f: Landed) -> float:
    """One file through the batch job; returns its wall in seconds."""
    from projekt_data_engineering_iubh_spark.pipeline import daily_aggregator as da
    from projekt_data_engineering_iubh_spark.pipeline.config import DEFAULT_RULES

    spark, tr = run.spark, run.tracer
    if tr.enabled:
        _trace_stages(run, str(f.path))
    t0 = time.perf_counter()
    with tr.span("daily_aggregator.run"):
        da.run(spark, str(f.path), str(state.warehouse), DEFAULT_RULES)
    return time.perf_counter() - t0


def _trace_stages(run: Run, path: str) -> None:
    """Force each stage of the batch job on its own (traced run only).
    Each write re-runs its lineage, so a stage's numbers include the
    stages before it."""
    from projekt_data_engineering_iubh_spark.pipeline import daily_aggregator as da
    from projekt_data_engineering_iubh_spark.pipeline.config import DEFAULT_RULES

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    tr = run.tracer
    events = da.cleanse(da.read_events_csv(run.spark, path))
    with tr.span("daily_aggregator.cleanse"):
        noop(events)
    with_seq, cycles = da.compute_cycles(events)
    with tr.span("daily_aggregator.compute_cycles"):
        noop(cycles)
    flagged = da.flag_errors(with_seq, DEFAULT_RULES)
    with tr.span("daily_aggregator.flag_errors"):
        noop(flagged)
    with tr.span("daily_aggregator.hourly_summary"):
        noop(da.hourly_summary(flagged, cycles))


def _read(run: Run, state: State, day: str) -> str:
    from projekt_data_engineering_iubh_spark.pipeline import dashboard, serving

    tr = run.tracer
    if not tr.enabled:
        summary = serving.summary_table(run.spark, str(state.warehouse))
        return dashboard.build_dashboard_html(serving.day_slice(summary, day), day)
    with tr.span("serving.day_slice"):
        summary = serving.summary_table(run.spark, str(state.warehouse))
        day_df = serving.day_slice(summary, day)
        day_df.collect()
    with tr.span("dashboard.build_dashboard_html"):
        return dashboard.build_dashboard_html(day_df, day)


def inputs(work_dir: Path, seed: int, seconds: float) -> State:
    state = State(seed, work_dir / "inputs", work_dir / "warehouse")
    for k in range(HISTORY_FILES):
        land(state, k)
    return state


def warm(run: Run, state: State) -> None:
    """Run the history files and read their dashboards (timed as set-up)."""
    for f in state.files:
        _write(run, state, f)
        _read(run, state, f.day)


def measure(run: Run, state: State, seconds: float) -> None:
    """Files and their dashboard reads until ``seconds`` have passed."""
    t0 = time.perf_counter()
    first = len(state.files)
    rows = busy_s = 0.0
    while time.perf_counter() - t0 < seconds:
        f = land(state, len(state.files))
        with run.tracer.span("bench.etl_file", request=f.path.name):
            with run.op(f"run {f.path.name}"):
                wall = _write(run, state, f)
                run.batch_ms.append(wall * 1000.0)
                busy_s += wall
                rows += f.rows
            expect = sum(g.hours for g in state.files if g.day == f.day)
            for _ in range(READS_PER_FILE):
                with run.op(f"dashboard {f.day}"):
                    r0 = time.perf_counter()
                    html = _read(run, state, f.day)
                    run.read_ms.append((time.perf_counter() - r0) * 1000.0)
                    got = html.split("<tbody>", 1)[1].count("<tr>")
                    if got != expect:
                        run.op_failed(
                            f"dashboard {f.day}: {got} rows, expected {expect}")

    # idempotent overwrite: the first measured machine-day again
    again = state.files[first]
    before = _partition_rows(run.spark, state.warehouse, again)
    with run.tracer.span("bench.etl_rerun", request=again.path.name), \
            run.op(f"rerun {again.path.name}"):
        wall = _write(run, state, again)
        run.batch_ms.append(wall * 1000.0)
        busy_s += wall
        rows += again.rows
        if _partition_rows(run.spark, state.warehouse, again) != before:
            run.op_failed(f"rerun {again.path.name} changed its summary rows")
    state.files.append(again)
    run.report["etl_events_per_s"] = rows / busy_s


def check(run: Run, state: State) -> None:
    files = list({(f.day, f.machine): f for f in state.files}.values())
    for problem in summary_mismatches(
            _summary_totals(run.spark, state.warehouse), files):
        run.op_failed(f"summary {problem}")
