"""Checks of the benchmark harness on tiny inputs (``--smoke``).

    python3 -m pytest perfbench -q

Each test runs the benchmark in a copy of ``perfbench/`` beside links to
the package and ``tools/``, so a test can plant a wrong expected output
without touching the checkout. About four minutes on four cores.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench.run import FIT_ARROW, FIXTURE_SEEDS, MEDALLION_ROWS, main  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
MEDALLION, QUERIES = (w["name"] for w in SPEC["workloads"])
SEED = 2


@pytest.fixture
def checkout(tmp_path: Path) -> Path:
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    for name in ("urban_traffic_data_lake_project_spark", "tools"):
        (tmp_path / name).symlink_to(ROOT / name)
    return tmp_path


def bench(root: Path, workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "0", "--trace", str(trace), "--smoke"],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert not list((root / ".perfbench").glob("run-*"))
    return result


def test_cli_rejects_unknown_workload_and_missing_package(tmp_path: Path):
    with pytest.raises(SystemExit):
        main(["--workload", "nope", "--seed", "1", "--seconds", "1"])
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", MEDALLION, "--seed", "1",
         "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and not proc.stdout.strip()


def test_medallion_traced(checkout: Path):
    result = bench(checkout, MEDALLION, 1)
    assert result["correct"] and result["attempted"] == 4
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["pipeline.silver_files_written"] > 0 and m["lake.files"] > 0
    assert m["spark.persisted_rdds"] == 2  # clean_table persists and never releases
    assert m["trace.pass_s"] > m["pipeline.silver_s"] > 0


def test_medallion_counts_a_changed_row_count_as_failed(checkout: Path):
    counts = checkout / "perfbench" / "medallion_counts.json"
    table = json.loads(counts.read_text())
    table[str(MEDALLION_ROWS)][str(FIXTURE_SEEDS[SEED % len(FIXTURE_SEEDS)])]["merged_data"] += 1
    counts.write_text(json.dumps(table))
    result = bench(checkout, MEDALLION, 0)
    assert not result["correct"] and result["failed"] == 1
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_medallion_without_recorded_counts_is_an_error(checkout: Path):
    counts = checkout / "perfbench" / "medallion_counts.json"
    table = json.loads(counts.read_text())
    del table[str(MEDALLION_ROWS)][str(FIXTURE_SEEDS[SEED % len(FIXTURE_SEEDS)])]
    counts.write_text(json.dumps(table))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", MEDALLION, "--seed", str(SEED),
         "--seconds", "0"],
        cwd=checkout, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and not proc.stdout.strip()


def test_queries_traced(checkout: Path):
    result = bench(checkout, QUERIES, 1)
    assert result["correct"] and result["attempted"] == len(FIT_ARROW)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["queries.action_jobs"] > 0 and m["operators.python_nodes"] > 0
    assert m["catalyst.planning_ms"] > 0 and m["spark.tasks"] > 0


def test_queries_count_a_wrong_output_as_failed(checkout: Path):
    hashes = checkout / "perfbench" / "oracle_hashes.json"
    table = json.loads(hashes.read_text())
    table["0.001"]["dedup_minhash_lsh"] = "0" * 16
    hashes.write_text(json.dumps(table))
    result = bench(checkout, QUERIES, 0)
    assert not result["correct"] and result["failed"] == 1
    assert all(v["value"] > 0 for v in result["metrics"].values())
