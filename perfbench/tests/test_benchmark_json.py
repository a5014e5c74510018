"""BENCHMARK.json stays within the benchmark contract and in step with
``metrics.py``, which the run uses to name and unit its output."""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parents[1]
sys.path.insert(0, str(HERE.parent))

from metrics import END_TO_END, PER_LAYER  # noqa: E402
from run import WORKLOAD_NAMES  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_keys_and_limits():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                          "per_layer"}
    assert (ROOT / "BENCHMARK.json").stat().st_size <= 64 * 1024
    assert 1 <= BENCH["run_seconds"] <= 60 and isinstance(BENCH["run_seconds"], int)
    assert BENCH["command"][0] == "python3" and len(BENCH["command"]) <= 32
    for p in BENCH["paths"]:
        assert re.fullmatch(r"[A-Za-z0-9_./-]{1,200}", p) and not p.startswith("/")
    assert 2 <= len(BENCH["workloads"]) <= 8
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer") for m in BENCH[k]]
    assert all(NAME.match(n) for n in names)
    for k in ("end_to_end", "per_layer"):
        assert len({m["name"] for m in BENCH[k]}) == len(BENCH[k])
        for m in BENCH[k]:
            assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])
    assert 1 <= len(BENCH["per_layer"]) <= 128


def test_matches_metrics_module():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOAD_NAMES)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in BENCH["end_to_end"]] \
        == [row[:4] for row in END_TO_END]
    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]] \
        == [row[:3] for row in PER_LAYER]
