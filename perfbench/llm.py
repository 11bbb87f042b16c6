"""``llm_index``: the n-gram similarity join and the stored-index serve.

Closed loop, one client, over a seeded remap of the bundled 500-document /
500-vector corpus (``data/``, the repository's sf0.01 tables): every token
gets a seed prefix and every vector is rotated by a seed-chosen number of
dimensions, as ``tools/scale_sweep.build_replicas`` builds its replicas.
Both maps are bijective, so each seed keeps the corpus's duplicate and
neighbour structure while its bytes differ.

The first half of the measured phase runs ``BATCH``, the second ``SERVE``
over the index set-up built under a fresh ``SPARK_GRAFT_INDEX_DIR``. Every
execution is collected and compared with the set-up execution, and that
one with the query's DuckDB oracle.
"""

from __future__ import annotations

import re
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.common import Run, dir_bytes

DATA = Path(__file__).resolve().parent / "data"
BATCH = "docs_ngram_jaccard"
SERVE = "emb_ivfpq_serve_rerank"
BATCH_SHARE = 0.5


@dataclass
class State:
    corpus: Path
    docs: int
    reference: dict[str, object] = field(default_factory=dict)
    canon: dict[str, list] = field(default_factory=dict)
    ops: dict[str, int] = field(default_factory=dict)


def make_corpus(seed: int, out: Path) -> int:
    """Write the seeded remap of the bundled corpus as single parquet
    files; returns the number of documents."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from projekt_data_engineering_iubh_spark.functions.text import TOKEN_SPLIT_RE

    out.mkdir(parents=True)
    split = re.compile(TOKEN_SPLIT_RE)
    prefix = f"s{seed}x"
    docs = pq.read_table(DATA / "documents.parquet")
    text = [" ".join(prefix + t for t in split.split(s.lower()) if t)
            for s in docs.column("text").to_pylist()]
    docs = docs.set_column(docs.schema.get_field_index("text"), "text",
                           pa.array(text, pa.string()))
    docs = docs.set_column(docs.schema.get_field_index("n_chars"), "n_chars",
                           pa.array([len(t) for t in text], pa.int64()))
    pq.write_table(docs, out / "documents.parquet")

    embs = pq.read_table(DATA / "embeddings.parquet")
    r = 1 + seed % 63
    rotated = [v[r:] + v[:r] for v in embs.column("embedding").to_pylist()]
    embs = embs.set_column(embs.schema.get_field_index("embedding"), "embedding",
                           pa.array(rotated, embs.schema.field("embedding").type))
    pq.write_table(embs, out / "embeddings.parquet")
    return docs.num_rows


def boundary(name: str) -> str:
    """``text_queries.<q>`` / ``vector_queries.<q>``: the plans module the
    query lives in, then its name."""
    from projekt_data_engineering_iubh_spark.plans import all_queries

    return f"{all_queries()[name].fn.__module__.rsplit('.', 1)[1]}.{name}"


def _execute(run: Run, state: State, name: str):
    from projekt_data_engineering_iubh_spark.plans import all_queries

    fn = all_queries()[name].fn
    b = boundary(name)
    with run.tracer.span(b):
        with run.tracer.span(f"{b}.construct"):
            df = fn(run.spark, str(state.corpus))
        with run.tracer.span(f"{b}.exec"):
            return df.toPandas()


def inputs(work_dir: Path, seed: int, seconds: float) -> State:
    corpus = work_dir / "corpus"
    return State(corpus, make_corpus(seed, corpus))


def warm(run: Run, state: State) -> None:
    """Build the serve index and run every query once (timed as set-up),
    the queries side by side to shorten the JVM's warm-up; these
    executions are the ones checked against the oracle."""
    from tests.oracle_harness import canonical_rows

    with ThreadPoolExecutor(2) as pool:
        done = {name: pool.submit(_execute, run, state, name)
                for name in (BATCH, SERVE)}
    for name, fut in done.items():
        state.reference[name] = fut.result()
        state.canon[name] = canonical_rows(state.reference[name])


def _measure_one(run: Run, state: State, name: str, seconds: float) -> list[float]:
    """Executions of ``name`` until ``seconds`` have passed; their walls in ms."""
    from tests.oracle_harness import canonical_rows

    t0 = time.perf_counter()
    walls: list[float] = []
    while time.perf_counter() - t0 < seconds:
        with run.op(name), run.tracer.span("bench.llm_op", request=f"{name}-{len(walls)}"):
            state.ops[name] = state.ops.get(name, 0) + 1
            t1 = time.perf_counter()
            pdf = _execute(run, state, name)
            walls.append((time.perf_counter() - t1) * 1000.0)
            if canonical_rows(pdf) != state.canon[name]:
                run.op_failed(f"{name}: result differs from the checked run")
    return walls


def measure(run: Run, state: State, seconds: float) -> None:
    run.batch_ms = _measure_one(run, state, BATCH, seconds * BATCH_SHARE)
    run.read_ms = _measure_one(run, state, SERVE, seconds * (1 - BATCH_SHARE))
    run.rows = state.docs * len(run.batch_ms)
    run.busy_s = sum(run.batch_ms) / 1000.0


class _Collected:
    """A collected result in the shape ``oracle_harness.compare`` reads."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def check(run: Run, state: State) -> None:
    import duckdb

    from projekt_data_engineering_iubh_spark.pipeline import ann_index
    from projekt_data_engineering_iubh_spark.plans import all_queries
    from tests.oracle_harness import compare

    con = duckdb.connect()
    for table in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{state.corpus / table}.parquet')")
    queries = all_queries()
    for name, pdf in state.reference.items():
        problems = compare(name, _Collected(pdf), queries[name].oracle, con)
        if problems:
            # every execution matched this result, so every one is wrong
            run.op_failed("; ".join(problems), max(state.ops.get(name, 0), 1))
    con.close()
    run.store_bytes = dir_bytes(Path(ann_index.base_dir()))
    run.input_bytes = dir_bytes(state.corpus)
