"""Self-test of the benchmark.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The fast tests check the helpers.  The run tests drive ``run.py`` for
one timed cycle per workload (about six minutes in all on four cores):
every end-to-end metric prints with its unit, a corrupted golden digest
makes operations fail, and a traced run emits every per-layer metric.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, REPO]

import gen  # noqa: E402
import tracing  # noqa: E402
import worker  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
# a seed no golden file is kept for; the tests write a corrupted one
CORRUPT_SEED = 990_001


def _run(workload: str, seed: int, trace: int, cwd: str = REPO):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )
    return p.returncode, p.stdout.strip().splitlines()


def _check_shape(result: dict, metrics: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    assert set(result["metrics"]) == {m["name"] for m in metrics}
    for m in metrics:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


# ------------------------------------------------------------- fast

def test_per_layer_list_matches_benchmark_json():
    import layers

    assert [(m["name"], m["unit"]) for m in BENCH["per_layer"]] == \
        layers.PER_LAYER


def test_generators_are_seeded():
    assert gen.search_corpus(3, 50) == gen.search_corpus(3, 50)
    assert gen.search_corpus(3, 50) != gen.search_corpus(4, 50)
    assert gen.search_queries(3, 50) == gen.search_queries(3, 50)
    lines = gen.search_corpus(3, 20, first=100).splitlines()
    assert all(gen.marker(100 + i) in ln for i, ln in enumerate(lines))
    doc = json.loads(lines[0])
    assert doc["site"] == "/test/example-0100"
    assert doc["ts"] == gen.TS_BASE + 100
    a, b = gen.pipeline_tables(3, 40), gen.pipeline_tables(3, 40)
    assert all(a[k].equals(b[k]) for k in a)


def test_rows_digest_ignores_order_and_float_noise():
    from pyspark.sql import Row

    rows = [Row(a=1, s=0.12341), Row(a=2, s=1.0)]
    assert worker.rows_digest(rows) == worker.rows_digest(
        [Row(a=2, s=1.00000001), Row(a=1, s=0.123412)])
    assert worker.rows_digest(rows) != worker.rows_digest(rows[:1])


def test_plan_counts_reads_only_the_final_plan():
    plan = "\n".join([
        "== Physical Plan ==",
        "AdaptiveSparkPlan (9)",
        "+- == Final Plan ==",
        "   * BroadcastHashJoin (8)",
        "   :- ShuffleQueryStage (5)",
        "   :  +- Exchange (4)",
        "   :     +- MapInPandas (3)",
        "   +- BroadcastQueryStage (7)",
        "      +- BroadcastExchange (6)",
        "+- == Initial Plan ==",
        "   Exchange (10)",
        "",
        "(1) Scan",
    ])
    assert tracing.plan_counts(plan) == {
        "exchanges": 1, "broadcasts": 1, "python_nodes": 1}


def test_stale_artifacts_are_found(tmp_path):
    assert worker.stale_artifacts(str(tmp_path)) == []
    (tmp_path / "toshi_spark_seg_ab12").mkdir()
    assert len(worker.stale_artifacts(str(tmp_path))) == 1


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".runs", ".tmp"))
    code, out = _run("search", 1, 0, cwd=str(tmp_path))
    assert code != 0 and out == []


# -------------------------------------------------------------- runs

@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_golden_fails_operations(workload):
    path = worker.golden_path(workload, CORRUPT_SEED)
    bad = "0" * 32
    golden = ({"queries": [bad] * len(gen.search_queries(1, 10))}
              if workload == "search"
              else {"keys": {k: bad for k in worker.PIPELINE_KEYS}})
    with open(path, "w") as f:
        json.dump(golden, f)
    try:
        code, out = _run(workload, CORRUPT_SEED, 0)
    finally:
        os.remove(path)
    assert code == 0
    result = json.loads(out[-1])
    _check_shape(result, BENCH["end_to_end"])
    assert result["correct"] is False
    assert result["failed"] / result["attempted"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_per_layer_metric(workload):
    code, out = _run(workload, 1, 1)
    assert code == 0
    result = json.loads(out[-1])
    _check_shape(result, BENCH["per_layer"])
    assert result["correct"] is True and result["failed"] == 0
    m = result["metrics"]
    assert m["spark.jobs_per_search"]["value"] > 0
    assert m["merge.runs"]["value"] >= 1
    assert all(m[f"op.{k}_ms"]["value"] > 0 for k in worker.PIPELINE_KEYS)
