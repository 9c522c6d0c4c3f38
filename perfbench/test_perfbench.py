"""The benchmark's own tests: tiny-size runs of the real command.

    python3 -m pytest perfbench -q

Each run starts its own Spark driver and warms up for 12 s (~20-30 s in all).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = 0.05  # multiplier on every workload's input size


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", str(TINY), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check_metrics(res: dict, specs: list[dict]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert {m["name"]: m["unit"] for m in specs} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))


def test_tiny_run_emits_every_end_to_end_metric():
    res = _result(_run("anonymize_uniform", 0))
    _check_metrics(res, _spec()["end_to_end"])
    assert all(v["value"] > 0 for v in res["metrics"].values())


# layer metrics each workload must measure as non-zero (idle layers read 0)
ACTIVE = {
    "anonymize_uniform": ["donut.rows_out", "distance_join.explode_rows",
                          "distance_join.candidate_pairs", "distance_join.kept_ratio",
                          "analysis.k_anonymity_address.self_s"],
    "anonymize_hotcell": ["distance_join.task_max_over_median",
                          "distance_join.task_rows_max_over_median",
                          "distance_join.candidate_pairs"],
    "swap_knn_uniform": ["locationswap.candidate_pairs", "locationswap.kept_ratio",
                         "locationswap.agg_build_s", "voronoi.jobs",
                         "knn.candidate_pairs"],
    "curate_docs": ["dedup.curate_near.jobs", "dedup.band_pairs",
                    "dedup.verified_ratio"],
}


@pytest.mark.parametrize("workload", sorted(ACTIVE))
def test_tiny_traced_run_emits_every_layer_metric(workload):
    res = _result(_run(workload, 1))
    _check_metrics(res, _spec()["per_layer"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for name in ACTIVE[workload] + ["spark.jobs", "spark.tasks", "sources.gen_s",
                                    "trace.overhead_ratio"]:
        assert m[name] > 0, name
    assert m["spark.tasks_failed"] == 0
    for ratio in ("distance_join.kept_ratio", "locationswap.kept_ratio",
                  "dedup.verified_ratio"):
        assert 0 <= m[ratio] <= 1, ratio


def test_wrong_pinned_digest_fails_every_pass(tmp_path):
    # the tiny anonymize_uniform input is scale 0.1 * TINY
    pins = tmp_path / "pins.json"
    pins.write_text(json.dumps({f"{0.1 * TINY:g}": {"anonymize_uniform": {"3": "wrong"}}}))
    proc = _run("anonymize_uniform", 0, "--pins", str(pins))
    res = _result(proc)
    assert res["correct"] is False
    assert res["failed"] == res["attempted"] >= 1
    assert f"failed_ratio {res['failed']}/{res['attempted']} = 1.0000" in proc.stdout


def test_without_the_program_it_fails_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    proc = _run("anonymize_uniform", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
