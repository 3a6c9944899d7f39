"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py        (or: python3 -m pytest perfbench/smoke.py)

Runs every workload on the sf0.001 lake with a few operations per pass
and tracing on, then checks the output contract: the result line
carries every per-layer metric of BENCHMARK.json with its unit, the
detail line every end-to-end metric, every operation ran its
correctness check and passed, and the command exits non-zero, printing
no result, when the package is missing. Takes a few minutes: each run
starts Spark.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "0", "--trace", "1", "--scale", "tiny", "--ops", "2"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_workload(workload: str) -> None:
    spec = _spec()
    proc = _run(workload)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == want, (got, want)
    for m in spec["end_to_end"]:
        assert detail["metrics"][m["name"]]["unit"] == m["unit"], m
    ops = detail["warmup"] + [op for p in detail["passes"] for op in p]
    assert ops and all(op["ok"] is True for op in ops), ops
    assert len(detail["passes"]) == 2  # untraced, traced


def check_fails_without_package() -> None:
    bare = ROOT / ".perfbench_work" / "smoke-bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    try:
        cmd = [sys.executable, str(bare / HERE.name / "run.py"), "--workload", "daily_backfill",
               "--seed", "1", "--seconds", "1", "--trace", "0"]
        proc = subprocess.run(cmd, cwd=bare, capture_output=True, text=True, timeout=180)
        assert proc.returncode != 0 and not proc.stdout.strip(), (proc.returncode, proc.stdout)
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def test_daily_backfill() -> None:
    check_workload("daily_backfill")


def test_ingest_query_mix() -> None:
    check_workload("ingest_query_mix")


def test_fails_without_package() -> None:
    check_fails_without_package()


if __name__ == "__main__":
    for w in [w["name"] for w in _spec()["workloads"]]:
        check_workload(w)
        print(f"ok {w}")
    check_fails_without_package()
    print("ok fails without package")
