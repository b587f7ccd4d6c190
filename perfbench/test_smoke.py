"""The benchmark's own test: the smoke mode runs every workload, traced and
untraced, on tiny inputs, and checks every label against the oracle.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH.parent))

from perfbench.workloads import E2E_UNITS, LAYER_UNITS, WORKLOADS  # noqa: E402


def test_smoke_all_workloads_correct():
    p = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--smoke"],
        cwd=BENCH.parent, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    for w in WORKLOADS:
        for trace, names in ((0, E2E_UNITS), (1, LAYER_UNITS)):
            got = {k.split(".", 2)[2] for k in out["metrics"] if k.startswith(f"{w}.trace{trace}.")}
            assert got == set(names), (w, trace, set(names) ^ got)
        assert out["metrics"][f"{w}.trace0.keep_f1"]["value"] == 1.0
        assert out["metrics"][f"{w}.trace0.setup_s"]["value"] > 0
    assert out["metrics"]["batch_full.trace1.pipeline.parts_relabelled"]["value"] == 8  # every part


def test_benchmark_json_names_every_metric():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
