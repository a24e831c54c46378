"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest streambench/test_streambench.py -q

The JVM workloads start Spark, so the whole file takes a few minutes.
Every run uses ``--smoke`` (tiny inputs).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("hot_append", "tail_read", "query_mix")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
E2E = {m["name"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"] for m in SPEC["per_layer"]}


def run(workload: str, *extra: str, cwd: str = ROOT, seed: int = 3) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, os.path.join(cwd, "streambench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--smoke", *extra]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=400)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, result, proc.stderr


@pytest.fixture(scope="module")
def reports():
    """Untraced and traced smoke runs of every workload, run once."""
    return {(w, t): run(w, "--trace", str(t)) for w in WORKLOADS for t in (0, 1)}


def test_spec_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    assert "setup_s" in E2E and len(E2E) == 4
    for m in SPEC["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert max(m["bound"] for m in SPEC["end_to_end"]) == next(
        m["bound"] for m in SPEC["end_to_end"] if m["name"] == "setup_s")


def test_layer_map_matches_spec():
    with open(os.path.join(HERE, "LAYERS.md")) as fh:
        text = fh.read()
    rows = {m.group(1): m.group(2) for m in re.finditer(r"^\| `([^`]+)` \| (.*)$", text, re.M)}
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        cells = [c.strip() for c in rows[m["name"]].split("|")]
        assert cells[0] == m["unit"] and cells[1] == m["better"], m["name"]
    for w in SPEC["workloads"]:
        assert f"| `{w['name']}` |" in text


CHECKS = {
    "hot_append": ["hot_append.exactly_once", "hot_append.per_key_order", "hot_append.window_filled"],
    "tail_read": ["tail_read.feed_within_verify_interval", "tail_read.copy_equals_source",
                  "tail_read.slice_holds_its_events", "tail_read.compacted_equals_uncompacted",
                  "tail_read.events_once_after_compaction"],
    "query_mix": ["query_mix.results_match_oracle"],
}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_reports_end_to_end_metrics(reports, workload):
    code, res, err = reports[(workload, 0)]
    assert code == 0, err[-2000:]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    for check in CHECKS[workload]:
        assert f"check {check}: ok" in err, check
    assert set(res["metrics"]) == E2E
    for v in res["metrics"].values():
        assert v["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_layers_and_writes_spans(reports, workload):
    code, res, err = reports[(workload, 1)]
    assert code == 0, err[-2000:]
    assert res["correct"]
    assert set(res["metrics"]) == PER_LAYER
    span_file = os.path.join(ROOT, ".streambench", "spans", f"{workload}-seed3-0.jsonl")
    with open(span_file) as fh:
        lines = [json.loads(x) for x in fh]
    assert len(lines) > 1 and "layer_self_ms" in lines[-1]
    assert all({"name", "layer", "start", "end", "parent"} <= set(x) for x in lines[:-1])


def test_detail_file_holds_the_workloads_own_metrics(reports):
    with open(os.path.join(HERE, "LAYERS.md")) as fh:
        text = fh.read()
    documented = set(re.findall(r"^\| `([^`]+)` \|", text, re.M))
    seen = set()
    for w in WORKLOADS:
        with open(os.path.join(ROOT, ".streambench", "layers", f"{w}-seed3.json")) as fh:
            detail = json.load(fh)
        assert detail["end_to_end"] and detail["per_layer"]
        assert not (set(detail["end_to_end"]) | set(detail["per_layer"])) & (E2E | PER_LAYER)
        seen |= set(detail["end_to_end"]) | {k for k in detail["per_layer"] if not k.startswith("overhead.")}
    assert seen == documented - E2E - PER_LAYER - set(WORKLOADS)


FAULT_CHECKS = {
    "hot_append": ["hot_append.exactly_once"],
    "tail_read": ["tail_read.copy_equals_source", "tail_read.slice_holds_its_events",
                  "tail_read.compacted_equals_uncompacted", "tail_read.events_once_after_compaction"],
    "query_mix": ["query_mix.results_match_oracle"],
}


@pytest.mark.parametrize("workload,fault", [
    ("hot_append", "drop"), ("hot_append", "dup"), ("hot_append", "alter"),
    ("tail_read", "drop"), ("tail_read", "dup"), ("tail_read", "alter"),
    ("query_mix", "corrupt"),
])
def test_injected_fault_fails_its_checks(workload, fault):
    code, res, err = run(workload, "--fault", fault)
    assert code == 1
    assert res is not None and not res["correct"] and res["failed"] > 0
    for check in FAULT_CHECKS[workload]:
        assert f"check {check}: FAIL" in err, check


def test_per_key_order_check_catches_reordering():
    sys.path.insert(0, HERE)
    import checks

    rows = [(0, 0, "k1", (1 << 40) | 5), (0, 1, "k1", (1 << 40) | 3)]
    assert checks.per_key_order(rows, {}) == 1
    assert checks.per_key_order(sorted(rows, key=lambda r: r[-1]), {}) == 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "streambench", ignore=shutil.ignore_patterns("__pycache__"))
    code, res, _ = run("hot_append", cwd=str(tmp_path))
    assert code != 0 and res is None
