"""``machine_events``: the die-bonder event path, batch then stream.

The paper's product is a daily batch over machine-event files (generator →
``daily_aggregator`` → store → dashboard), with the same events as a
continuous stream as its north star. This workload runs both on one
session: the first ``BATCH_SHARE`` of the window is the batch client's
closed loop (``etl``), the rest the stream's open loop (``stream``). Both go
through ``cleanse`` and the rules, on large files and on small drops. It
bypasses ``plans/``, the operators the LLM queries use and the ANN index
store.

End-to-end figures: ``batch_ms`` and ``read_ms`` are the batch files and
their dashboard reads; ``rows`` over ``busy_s`` is the stream's input rows
per second of data-trigger time.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

from perfbench import etl, stream
from perfbench.common import Run, dir_bytes

BATCH_SHARE = 0.4


@dataclass
class State:
    etl: etl.State
    stream: stream.State


def inputs(work_dir: Path, seed: int, seconds: float) -> State:
    return State(etl.inputs(work_dir, seed, seconds * BATCH_SHARE),
                 stream.inputs(work_dir, seed, seconds * (1 - BATCH_SHARE)))


def warm(run: Run, state: State) -> None:
    """Both halves warm side by side, which shortens the JVM's warm-up."""
    with ThreadPoolExecutor(1) as pool:
        streaming = pool.submit(stream.warm, run, state.stream)
        etl.warm(run, state.etl)
    streaming.result()


def measure(run: Run, state: State, seconds: float) -> None:
    etl.measure(run, state.etl, seconds * BATCH_SHARE)
    stream.measure(run, state.stream, seconds * (1 - BATCH_SHARE))


def check(run: Run, state: State) -> None:
    etl.check(run, state.etl)
    stream.check(run, state.stream)
    run.store_bytes = dir_bytes(state.etl.warehouse)
    run.input_bytes = sum(f.path.stat().st_size for f in state.etl.files)
