"""The benchmark's own test: one key per workload at sf0.001, untraced
and traced. Checks the result line against BENCHMARK.json (every
metric name and unit), the oracle check, and that every traced
execution's layer self times sum to its wall.

Run: python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import tracing  # noqa: E402
from workloads import workloads  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
ONE_KEY = {
    "hot-sf0.1": "llm_token_stats",
    "scan-x10": "agg_mode",
    "ingest-write": "stm_tumbling_availablenow",
}


@pytest.fixture(scope="module", autouse=True)
def _scratch():
    run._contain_scratch()


def _run(name: str, trace: bool):
    lines: list[str] = []
    runner = run.Runner(
        workloads()[name], seed=3, seconds=0, trace=trace, sf=0.001,
        keys=[ONE_KEY[name]], out=lines.append,
    )
    return runner.run(), lines


def test_spec_workloads_exist():
    assert {w["name"] for w in SPEC["workloads"]} <= set(workloads())


@pytest.mark.parametrize("name", list(ONE_KEY))
def test_end_to_end_result(name):
    result, lines = _run(name, trace=False)
    assert result["correct"], lines
    assert (result["attempted"], result["failed"]) == (1, 0)
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    printed = " ".join(lines)
    for metric in ("total_s", "query_ms_p50", "query_ms_tail", "fail_frac", "peak_rss_mb", *want):
        assert f"{name} {metric} = " in printed
    for key in workloads()[name].defects:
        tags = ("KNOWN DEFECT ", "DEFECT FIXED ")
        assert sum(line.startswith(tuple(t + key + ":" for t in tags)) for line in lines) == 1, lines


@pytest.mark.parametrize("name", list(ONE_KEY))
def test_trace_closes(name):
    result, lines = _run(name, trace=True)
    assert result["correct"], lines
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["metrics"]["probe.errors"]["value"] == 0, lines
    records = [json.loads(line) for line in lines if line.startswith("{")]
    assert records, lines
    for rec in records:
        assert set(rec["self_ms"]) == set(tracing.LAYERS)
        assert tracing.closes(rec), rec
        assert rec["metrics"]["dispatch.jobs"] >= 1
        assert rec["metrics"]["sources.input_rows"] >= 1
    if name == "scan-x10":
        assert all(r["metrics"]["sources.input_bytes"] > 0 for r in records)
    if name == "ingest-write":
        assert all(r["metrics"]["streaming.batches"] >= 1 for r in records)
        assert all(r["metrics"]["streaming.state_rows"] >= 1 for r in records)
