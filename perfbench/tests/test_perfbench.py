"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The smoke runs boot Spark at scale 0.001 and take a few minutes in total.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import workloads as wl  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str) -> tuple[int, dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--scale", "0.001", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    last = proc.stdout.strip().splitlines()[-1]
    return proc.returncode, json.loads(last), proc.stdout


# --- seeded inputs ----------------------------------------------------------------


@pytest.mark.parametrize("workload", wl.WORKLOADS)
def test_same_seed_same_ops(workload):
    assert wl.op_rounds(workload, 7, 0.1, 5) == wl.op_rounds(workload, 7, 0.1, 5)


def test_other_seed_changes_parameters():
    a = [op.params for rnd in wl.op_rounds("point_sql", 1, 0.1, 3) for op in rnd]
    b = [op.params for rnd in wl.op_rounds("point_sql", 2, 0.1, 3) for op in rnd]
    assert a != b


def test_other_seed_changes_pipeline_order():
    orders = {
        tuple(op.template for op in wl.op_rounds("ops_pipeline", seed, 0.1, 1)[0])
        for seed in range(6)
    }
    assert len(orders) > 1


def test_rounds_repeat_the_same_mix():
    for workload in wl.WORKLOADS:
        mixes = {tuple(sorted(op.template for op in rnd))
                 for rnd in wl.op_rounds(workload, 3, 0.1, 4)}
        assert len(mixes) == 1


def test_postings_write_precedes_its_read():
    for seed in range(10):
        names = [op.template for op in wl.op_rounds("ops_pipeline", seed, 0.1, 1)[0]]
        assert names.index("postings_write") + 1 == names.index("text_bm25_search_index")


# --- smoke runs at scale 0.001 ------------------------------------------------------


@pytest.mark.parametrize("workload", wl.WORKLOADS)
@pytest.mark.parametrize("traced", [0, 1])
def test_smoke_prints_every_metric(workload, traced):
    rc, out, _ = _run("--workload", workload, "--seed", "3", "--seconds", "1",
                      "--trace", str(traced))
    assert rc == 0 and out["correct"] and out["failed"] == 0
    spec = _spec()
    wanted = spec["per_layer"] if traced else spec["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if not traced:
        assert all(out["metrics"][m["name"]]["value"] > 0 for m in wanted)


@pytest.mark.parametrize("workload,template", [
    ("point_sql", "generate_series"),
    ("ops_pipeline", "dedup_fuzzy_keepers"),
])
def test_planted_wrong_expected_counts_as_failed(workload, template):
    rc, out, stdout = _run("--workload", workload, "--seed", "3", "--seconds", "1",
                           "--plant-wrong-expected", template)
    round_len = len(wl.op_rounds(workload, 3, 0.001, 1)[0])
    assert rc == 1
    assert not out["correct"]
    # one op of the template per round, and nothing else fails
    assert out["failed"] == out["attempted"] // round_len >= 1
    assert f"FAILED {workload}/{template}" in stdout
    ok = (out["attempted"] - out["failed"]) / out["attempted"]
    assert out["metrics"]["ok_ratio"]["value"] == ok


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the command
    fails without printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    proc = subprocess.run(
        [*_spec()["command"], "--workload", "point_sql", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
