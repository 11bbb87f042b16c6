"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload machine_events --seed 1 --seconds 6 --trace 0

Run it from the repository root. Every run works in a fresh directory under
``.perfbench/`` (Spark local dirs, warehouse, index store, inputs), removed
at exit. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run measures
traced (event log on, a span and a job group per call into a layer), then
again untraced for the overhead figure, and reports the per-layer ones,
writing the spans to ``.perfbench/trace-*.json``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("machine_events", "llm_index")
HEAP_CAP_MB = 2048

END_TO_END_UNITS = {
    "setup_s": "s",
    "batch_p50_ms": "ms",
    "read_p50_ms": "ms",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "store_bytes_per_input_byte": "ratio",
}
SPARK_UNITS = {"wall_ms": "ms", "jobs": "count", "tasks": "count", "cpu_ms": "ms",
               "gc_ms": "ms", "shuffle_write_bytes": "bytes", "sched_gap_ms": "ms"}
ETL_BOUNDARIES = ("daily_aggregator.cleanse", "daily_aggregator.compute_cycles",
                  "daily_aggregator.flag_errors", "daily_aggregator.hourly_summary",
                  "daily_aggregator.run", "serving.day_slice")
LLM_BOUNDARIES = ("text_queries.docs_ngram_jaccard",
                  "vector_queries.emb_ivfpq_serve_rerank")
STREAM_UNITS = {"add_batch_ms": "ms", "query_planning_ms": "ms", "wal_commit_ms": "ms",
                "latest_offset_ms": "ms", "trigger_ms": "ms", "data_triggers": "count",
                "nodata_triggers": "count", "state_rows": "count", "state_bytes": "bytes"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric and its unit. A traced run reports all of
    them; a layer the workload never calls reads 0."""
    out = {}
    for b in ETL_BOUNDARIES:
        out.update({f"{b}.{k}": u for k, u in SPARK_UNITS.items()})
    out["daily_aggregator.run.output_bytes"] = "bytes"
    out["dashboard.build_dashboard_html.wall_ms"] = "ms"
    for b in LLM_BOUNDARIES:
        out.update({f"{b}.{k}": u for k, u in SPARK_UNITS.items()})
        out[f"{b}.construct_ms"] = "ms"
        out[f"{b}.exec_ms"] = "ms"
    for q in ("pipeline_stream", "sessionize_stream"):
        out.update({f"{q}.{k}": u for k, u in STREAM_UNITS.items()})
    out["bench.generator_late_ms"] = "ms"
    out["bench.trace_overhead_ms"] = "ms"
    return out


def _heap_mb() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemTotal:"))
    return min(HEAP_CAP_MB, total_kb // 1024 // 4)


def _isolate(run_dir: Path) -> None:
    """Point every place Spark and Python write to inside ``run_dir`` and
    size the session to this machine."""
    tmp = run_dir / "tmp"
    tmp.mkdir()
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{_heap_mb()}m",
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "TMPDIR": str(tmp),
        "TZ": "UTC",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONWARNINGS": "ignore::FutureWarning",
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        # every JVM, the launcher's too, would otherwise write its perf-data
        # file to the system temp dir
        "JAVA_TOOL_OPTIONS": " ".join(
            p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p),
    })
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    tempfile.tempdir = str(tmp)
    time.tzset()


def _session(run_dir: Path, event_log: Path | None):
    from projekt_data_engineering_iubh_spark.session import get_spark

    tmp = run_dir / "tmp"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
        # -Xms: a heap committed up front keeps the resident peak from
        # depending on when the collector chose to grow it.
        # TieredStopAtLevel=1: a run lasts about a minute, too short for the
        # optimizing compiler to pay for itself; compiling with C1 only
        # shortens set-up and every run by about a sixth on 4 cores.
        "spark.driver.extraJavaOptions":
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:TieredStopAtLevel=1"
            f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        # set either way: the JVM keeps the first session's settings as
        # defaults for the next one
        "spark.eventLog.enabled": str(event_log is not None).lower(),
    }
    if event_log is not None:
        event_log.mkdir()
        conf.update({
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": str(event_log),
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _phase(workload: str, seed: int, seconds: float, run_dir: Path, traced: bool):
    """Inputs (untimed), set-up (timed), measurement and checks, in a
    fresh work dir and index store. Returns (run, setup_s, event log dir)."""
    from perfbench import common, events, llm

    mod = {"machine_events": events, "llm_index": llm}[workload]
    work = run_dir / ("traced" if traced else "untraced")
    work.mkdir()
    os.environ["SPARK_GRAFT_INDEX_DIR"] = str(work / "index")
    state = mod.inputs(work, seed, seconds)
    event_log = work / "eventlog" if traced else None

    t0 = time.perf_counter()
    spark = _session(run_dir, event_log)
    run = common.Run(spark, common.Tracer(), work)
    mod.warm(run, state)
    setup_s = time.perf_counter() - t0

    if traced:
        run.tracer = common.Tracer(spark.sparkContext)
    mod.measure(run, state, seconds)
    mod.check(run, state)
    return run, setup_s, event_log


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _stop_jvm() -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway exits when its stdin closes
    gateway.proc.wait(timeout=60)


def _untraced_metrics(run, setup_s: float) -> dict[str, float]:
    from perfbench.common import median, peak_rss_mb

    return {
        "setup_s": setup_s,
        "batch_p50_ms": median(run.batch_ms),
        "read_p50_ms": median(run.read_ms),
        "rows_per_s": run.rows / run.busy_s,
        "peak_rss_mb": peak_rss_mb([os.getpid(), _jvm_pid()]),
        "store_bytes_per_input_byte": run.store_bytes / run.input_bytes,
    }


def _layer_metrics(run, event_log: Path, untraced_batch_ms: float,
                   trace_file: Path) -> dict[str, float]:
    from perfbench import eventlog
    from perfbench.common import median

    logs = list(event_log.iterdir())
    if len(logs) != 1:
        raise eventlog.EventLogFormatError(f"expected one event log, found {logs}")
    rows = eventlog.by_boundary(logs[0], run.tracer.spans)
    out = {name: 0.0 for name in per_layer_units()}
    for name, row in rows.items():
        base, _, part = name.rpartition(".")
        if part in ("construct", "exec"):  # child spans of a query boundary
            out[f"{base}.{part}_ms"] = row["wall_ms"]
            continue
        for k, v in row.items():
            if f"{name}.{k}" in out:
                out[f"{name}.{k}"] = v
    out.update({k: float(v) for k, v in run.layers.items()})
    out["bench.trace_overhead_ms"] = median(run.batch_ms) - untraced_batch_ms
    self_ms = run.tracer.self_ms()
    trace_file.write_text(json.dumps({
        "spans": [{"id": s.id, "name": s.name, "parent": s.parent,
                   "request": s.request, "start_ms": s.start_ms,
                   "end_ms": s.end_ms, "self_ms": self_ms[s.id]}
                  for s in run.tracer.spans],
        "boundaries": rows,
    }, indent=1))
    return out


def bench(workload: str, seed: int, seconds: float, trace: bool,
          run_dir: Path, out_dir: Path) -> dict:
    """An untraced run reports the end-to-end metrics. A traced run first
    measures traced, in the same JVM state an untraced run measures in,
    then restarts the Spark context in the warmed JVM and measures again
    untraced for the overhead figure (an upper bound: the second phase
    runs warmer)."""
    from perfbench.common import median, tail

    run, setup_s, event_log = _phase(workload, seed, seconds, run_dir, traced=trace)
    phases = [run]
    if trace:
        run.spark.stop()
        untraced, _, _ = _phase(workload, seed, seconds, run_dir, traced=False)
        untraced.spark.stop()
        phases.append(untraced)
        metrics = _layer_metrics(run, event_log, median(untraced.batch_ms),
                                 out_dir / f"trace-{workload}-{seed}.json")
        units = per_layer_units()
    else:
        metrics = _untraced_metrics(run, setup_s)
        units = END_TO_END_UNITS
        run.spark.stop()
    attempted = sum(p.attempted for p in phases)
    failed = sum(p.failed for p in phases)
    problems = [x for p in phases for x in p.problems]
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print("report " + json.dumps({
        "workload": workload, "seed": seed, "traced": trace,
        "batch_samples": len(run.batch_ms), "read_samples": len(run.read_ms),
        "batch_tail_ms": tail(run.batch_ms), "read_tail_ms": tail(run.read_ms),
        "ops_failed_ratio": failed / attempted,
        **run.report, **run.layers,
    }))
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path[0] = str(ROOT)  # import perfbench and the package from the checkout
    out_dir = ROOT / ".perfbench"
    out_dir.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                                    dir=out_dir))
    try:
        _isolate(run_dir)
        result = bench(args.workload, args.seed, args.seconds, bool(args.trace),
                       run_dir, out_dir)
    finally:
        if "pyspark" in sys.modules:
            _stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
