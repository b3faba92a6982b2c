"""Smoke test of the benchmark itself, at a tiny input size.

Run from the repository root:

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

It checks that the seeded inputs are reproducible, and that a run of
every workload prints every end-to-end metric (and one traced run
every per-layer metric) by name with its unit.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import inputs  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _code_rows(seed: int, rows: int):
    from parquetjs_spark.sources.synthetic import generate_batch

    lo, hi = inputs.code_id_range(seed, rows)
    return generate_batch(np.arange(lo, hi, dtype=np.int64))


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: _code_rows(seed, 64),
        lambda seed: inputs.lineitem_pdf(seed, 500),
        lambda seed: inputs.documents_pdf(seed, 100),
    ],
    ids=["code", "lineitem", "documents"],
)
def test_seed_reproduces_inputs(make):
    assert make(3).equals(make(3))
    assert not make(3).equals(make(4))


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [
            sys.executable, str(HERE / "run.py"),
            "--workload", workload, "--seed", "5", "--seconds", "1",
            "--trace", str(trace), "--scale", "0.05",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _assert_metrics(result: dict, spec: list[dict]) -> None:
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


# the workloads of BENCHMARK.json and the two kept out of it
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["code_read", "lineitem_dml"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_print_with_units(workload):
    _assert_metrics(_run(workload, trace=0), SPEC["end_to_end"])


def test_traced_run_prints_per_layer_metrics():
    _assert_metrics(_run(SPEC["workloads"][0]["name"], trace=1), SPEC["per_layer"])
