"""The benchmark's own tests: sf0.001 smoke runs of each workload, the
refusal to run without the engine sources, and the pure helpers.

    python3 -m pytest perfbench -q
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
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(workload: str, trace: int, cwd: str = ROOT, timeout: float = 600):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "3", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [("interactive_sql", 0), ("curation_batch", 0), ("interactive_sql", 1), ("curation_batch", 1)],
)
def test_smoke_run_prints_every_metric(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0, p.stdout
    wanted = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == wanted
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_engine_sources(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("interactive_sql", 0, cwd=str(tmp_path), timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
    assert "engine sources missing" in p.stderr


def test_inputs_depend_only_on_seed(tmp_path):
    import datagen

    for d in ("a", "b"):
        datagen.generate(str(tmp_path / d), seed=3, sf=0.001)
    datagen.generate(str(tmp_path / "c"), seed=4, sf=0.001)
    for name in os.listdir(tmp_path / "a"):
        same = (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
        assert same, name
    assert (tmp_path / "a" / "lineitem.parquet").read_bytes() != (tmp_path / "c" / "lineitem.parquet").read_bytes()


def test_parse_sql_metric():
    from tracing import parse_sql_metric

    assert parse_sql_metric("1.4 s") == 1400
    assert parse_sql_metric("12.0 KiB") == 12 * 1024
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n3.1 s (1.0 s, 1.0 s, 1.1 s (stage 2.0: task 9))") == 3100
