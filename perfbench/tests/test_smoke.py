"""Smoke runs of every workload at sf0.001, untraced and traced.

    python3 -m pytest perfbench/tests/test_smoke.py -q

Each run starts its own Spark driver in this process and stops it, as the
command does; together they take a few minutes.
"""

from __future__ import annotations

import io
import json
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(ROOT))

import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SMOKE_SF = 0.001


def _smoke(workload: str, seed: int, traced: bool) -> tuple[dict, str]:
    res = run.run(workload, seed, 1, traced, SMOKE_SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out = run.report(res, traced)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["attempted"] >= 1
    json.dumps(out)  # the last line of the command's output
    return out, buf.getvalue()


@pytest.mark.parametrize("workload", ["ask", "registry"])
def test_smoke_untraced_reports_every_end_to_end_metric(workload):
    out, text = _smoke(workload, 3, False)
    assert out["correct"] is True, text
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())
    assert re.search(r"metric latency_p50_s = \S+ s \(n=\d+\)", text)
    assert "timed passes 1" in text
    if workload == "ask":
        # the ANSI runtime-error defect: two failed ops in every pass
        assert out["failed"] == 2, text


@pytest.mark.parametrize("workload", ["ask", "registry"])
def test_smoke_traced_reports_every_layer_metric(workload):
    out, text = _smoke(workload, 4, True)
    assert out["correct"] is True, text
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert "layer unattributed_s" in text
    assert "layer trace.overhead_p50_s" in text
    assert not list((ROOT / ".perfbench" / "run").glob(f"{workload}-*"))
