"""The benchmark's own test, on smoke-size inputs (each case starts one
Spark session, so the file takes a few minutes):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

#: Name prefixes of the per-layer metrics each workload must measure.
OWN_LAYERS = {
    "finance_etl": (
        "plans.finance.",
        "sources.write_parquet.init.",
        "sources.write_parquet.incr.",
        "sources.read_parquet_if_exists.",
    ),
    "curation": ("plans.corpus.", "operators.", "sources.write_parquet.wall_s"),
    "query_mix": ("queries.",),
}
COMMON_LAYERS = ("session.get_spark.wall_s", "setup.generate_s", "setup.warmup_s")


def run(workload: str, trace: int, *extra: str, cwd: Path = ROOT):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_is_emitted(workload, trace):
    rc, out = run(workload, trace, "--smoke")
    assert rc == 0
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    values = {k: v["value"] for k, v in out["metrics"].items()}
    if trace == 0:
        assert all(v > 0 for v in values.values()), values
    else:
        own = [
            m["name"] for m in spec
            if m["unit"] == "s" and m["name"].endswith(("wall_s", "plan_s", "exec_s"))
            and m["name"].startswith(OWN_LAYERS[workload])
        ]
        assert own
        assert all(values[n] > 0 for n in [*own, *COMMON_LAYERS]), values


@pytest.mark.parametrize("workload", WORKLOADS)
def test_planted_wrong_answer_is_caught(workload):
    rc, out = run(workload, 0, "--smoke", "--plant-fault")
    assert rc != 0
    assert not out["correct"] and out["failed"] > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    rc, out = run(WORKLOADS[0], 0, cwd=tmp_path)
    assert rc != 0 and out is None
