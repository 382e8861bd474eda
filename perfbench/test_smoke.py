"""Smoke tests of the benchmark itself, at tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload is run once untraced and once traced (about half a minute
each): every end-to-end name is printed with its unit, every per-layer
name is emitted by the traced run, output checks pass, and the same seed
gives the same result digest.  Input generation is checked without Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.common import digest  # noqa: E402
from perfbench.run import WORKLOADS, _load  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# layers a workload does not call into, which must report 0
UNTOUCHED = {
    "research_panel": ("sources", "streaming", "functions"),
    "filing_dedup": ("plans", "backtesting", "datasets"),
}


def _run(workload: str, trace: int, seed: int = 1) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.fixture(scope="module", params=WORKLOADS)
def runs(request):
    w = request.param
    return w, _run(w, 0), _run(w, 1)


def test_untraced_run_prints_every_end_to_end_metric(runs):
    _, (info, res), _ = runs
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, info
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_emits_every_per_layer_metric(runs):
    w, _, (info, res) = runs
    assert res["correct"] and res["failed"] == 0, info
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for layer in UNTOUCHED[w]:
        for k, v in res["metrics"].items():
            if k.startswith(layer + "."):
                assert v["value"] == 0, (k, v)
    touched = {k.split(".")[0] for k, v in res["metrics"].items()
               if k.endswith(".exec_s") and v["value"] > 0}
    assert touched and not touched & set(UNTOUCHED[w])


def test_same_seed_same_digest_traced_or_not(runs):
    _, (untraced, _), (traced, _) = runs
    assert untraced["notes"]["digest"] == traced["notes"]["digest"]


def _content(x):
    """Every value of a generated input, in a hashable form."""
    import numpy as np
    import pandas as pd

    if isinstance(x, pd.DataFrame):
        return [list(x.columns), pd.util.hash_pandas_object(x, index=False).tolist()]
    if isinstance(x, np.ndarray):
        return x.tolist()
    if isinstance(x, dict):
        return {k: _content(v) for k, v in x.items()}
    if isinstance(x, (list, tuple)):
        return [_content(v) for v in x]
    return x


@pytest.mark.parametrize("workload", WORKLOADS)
def test_seeded_inputs(workload):
    gen = _load(workload).generate

    def fingerprint(seed):
        return digest(_content(gen(seed, "tiny")))

    assert fingerprint(1) == fingerprint(1)
    assert fingerprint(1) != fingerprint(2)
