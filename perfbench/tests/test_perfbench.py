"""Self-test of the benchmark: names, query resolution, a one-pass smoke
of every workload at the smoke scale, and a corrupted expected digest.

    python3 -m pytest perfbench/tests -q

Each smoke launches ``run.py`` in a subprocess with its own Spark session
(about a minute per workload on 4 cores)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(ROOT))

from workloads import PER_LAYER, QUERY_WORKLOADS, SMOKE_SCALE, WORKLOADS  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run_bench(workload: str, trace: int, *extra: str) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", str(SMOKE_SCALE), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


def test_spec_names_match_the_code():
    # sql_analytics runs on demand; the spec lists the workloads that fit
    # the repeated-run time budget
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)
    assert [m["name"] for m in SPEC["per_layer"]] == [n for n, _ in PER_LAYER]
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == dict(PER_LAYER)


def test_every_named_query_is_registered():
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    registered = all_queries()
    for names in QUERY_WORKLOADS.values():
        assert len(names) == len(set(names))
        assert not set(names) - set(registered)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_pass_is_correct_and_prints_every_metric(workload):
    result, _ = run_bench(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_prints_every_layer_metric():
    result, out = run_bench("llm_corpus", 1)
    assert result["correct"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["metrics"]["python.total_s"]["value"] > 0
    assert result["metrics"]["build.jobs"]["value"] > 0


def test_corrupted_expected_digest_is_a_failed_operation(tmp_path):
    doc = json.loads((BENCH / "expected.json").read_text())
    doc["queries"][str(SMOKE_SCALE)]["agg_rollup"][1] = "12345"
    bad = tmp_path / "expected.json"
    bad.write_text(json.dumps(doc))
    result, out = run_bench("sql_analytics", 0, "--expected", str(bad))
    assert not result["correct"]
    assert result["failed"] >= 1
    assert "# FAILED agg_rollup: output (rows, digest)" in out
