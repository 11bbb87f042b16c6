"""Smoke test of the benchmark itself (not part of the repository's tests/).

    python -m pytest perfbench/test_smoke.py -q

The output-check tests run in seconds. The end-to-end tests run the
benchmark with a one-second measurement window and take a few minutes.
"""

from __future__ import annotations

import copy
import json
import subprocess
import sys
from collections import Counter
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import etl, llm, stream  # noqa: E402
from perfbench.common import Run, Tracer  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_is_printed_with_its_unit(workload):
    result = _run(workload, trace=0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_every_per_layer_metric_is_printed_with_its_unit():
    result = _run("machine_events", trace=1)
    assert result["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    value = {k: v["value"] for k, v in result["metrics"].items()}
    assert value["daily_aggregator.run.jobs"] > 0
    assert value["pipeline_stream.data_triggers"] > 0
    assert value["vector_queries.emb_ivfpq_serve_rerank.jobs"] == 0  # not called


def _landed(truth: dict[str, int]) -> etl.Landed:
    return etl.Landed(Path("f.csv"), "DB00", "2024-03-04", 0, truth, 1)


def test_etl_check_fails_on_a_wrong_expected_row():
    truth = {c: 5 for c in etl.TRUTH_COLUMNS}
    actual = {("2024-03-04", "DB00"): dict(truth)}
    assert etl.summary_mismatches(actual, [_landed(truth)]) == []
    wrong = dict(truth, pick_force_error_count=6)
    assert etl.summary_mismatches(actual, [_landed(wrong)])


def test_stream_check_fails_on_a_wrong_expected_row():
    row = {"summary_date": "2024-06-03", "hour_of_day": 0, "machine_id": "FL00",
           "n_events": 100, "total_error_count": 3,
           "avg_pick_force": 90.5, "avg_place_force": 91.25}
    assert stream.window_mismatches([row], [dict(row)]) == []
    assert stream.window_mismatches([row], [dict(row, total_error_count=4)])
    assert stream.window_mismatches([row], [dict(row, avg_place_force=91.3)])
    assert stream.window_mismatches([row], [dict(row, hour_of_day=1)])


def test_llm_check_fails_on_a_wrong_expected_row(tmp_path):
    import duckdb

    from projekt_data_engineering_iubh_spark.plans import all_queries

    name = "emb_ivfpq_serve_rerank"
    state = llm.inputs(tmp_path, seed=3, seconds=1)
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{state.corpus / 'embeddings.parquet'}')")
    expected = con.execute(all_queries()[name].oracle).fetchdf()

    def failures(reference) -> int:
        run = Run(None, Tracer(), tmp_path)
        state.reference = {name: reference}
        state.ops = Counter({name: 1})
        llm.check(run, state)
        return run.failed

    assert failures(expected) == 0
    wrong = copy.deepcopy(expected)
    col = wrong.select_dtypes("number").columns[0]
    wrong.loc[0, col] += 1
    assert failures(wrong) == 1
