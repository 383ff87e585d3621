"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

``test_one_command_prints_every_metric`` starts Spark once per workload
and takes a few minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402
from common import BASE_SEED, PROTOCOL_VERSION, cpu_count, load_spec  # noqa: E402

TINY = dict(gen.SCALE, house=30, senate=10, extra_candidates=20, committees=4, bills=12,
            roll_calls=6, fec_rows=500, donor_pool=100)


def test_generator_is_deterministic(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 7, TINY)
    b = gen.generate(str(tmp_path / "b"), 7, TINY)
    c = gen.generate(str(tmp_path / "c"), 8, TINY)
    assert gen.tree_digest(str(tmp_path / "a")) == gen.tree_digest(str(tmp_path / "b"))
    assert gen.tree_digest(str(tmp_path / "a")) != gen.tree_digest(str(tmp_path / "c"))
    assert a.expect_day1 == b.expect_day1 and a.expect_day2 == b.expect_day2
    assert a.day1.member_records == b.day1.member_records
    assert a.expect_day2 != c.expect_day2


def test_delta_seed_leaves_day1_alone(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 1, TINY, base_seed=0)
    b = gen.generate(str(tmp_path / "b"), 2, TINY, base_seed=0)
    assert gen.tree_digest(str(tmp_path / "a" / "day1")) == gen.tree_digest(str(tmp_path / "b" / "day1"))
    assert gen.tree_digest(str(tmp_path / "a" / "day2")) != gen.tree_digest(str(tmp_path / "b" / "day2"))
    assert a.expect_day1 == b.expect_day1


def test_generator_expectations_follow_the_delta(tmp_path):
    g = gen.generate(str(tmp_path), 3, TINY)
    for table, e in g.expect_day1.items():
        assert g.expect_day2[table]["rows"] >= e["rows"], table
    assert g.expect_day2["politicians"]["rows"] > g.expect_day1["politicians"]["rows"]
    assert g.expect_day2["donations"]["rows"] > g.expect_day1["donations"]["rows"]
    assert g.day2.input_bytes < g.day1.input_bytes


def _baseline(tmp_path, **label) -> str:
    path = tmp_path / "baseline.json"
    path.write_text(json.dumps({
        "label": dict({"cpus": cpu_count(), "protocol_version": PROTOCOL_VERSION, "input_version": gen.INPUT_VERSION,
                       "scale": gen.SCALE, "base_seed": BASE_SEED}, **label),
        "workloads": {"serve": {"op_latency_ms": 100.0}},
    }))
    return str(path)


def _result(value: float) -> dict:
    return {"metrics": {"op_latency_ms": {"value": value, "unit": "ms"}}}


@pytest.mark.parametrize("label", [{"cpus": cpu_count() + 1},
                                   {"protocol_version": PROTOCOL_VERSION + 1},
                                   {"input_version": gen.INPUT_VERSION + 1},
                                   {"scale": dict(gen.SCALE, fec_rows=gen.SCALE["fec_rows"] // 2)},
                                   {"base_seed": BASE_SEED + 1}])
def test_compare_refuses_other_label(tmp_path, label):
    with pytest.raises(SystemExit, match=next(iter(label))):
        run.compare_to_baseline(_result(120.0), _baseline(tmp_path, **label), "serve")


def test_compare_same_core_count_gives_ratios(tmp_path):
    ratios = run.compare_to_baseline(_result(120.0), _baseline(tmp_path), "serve")
    assert ratios == {"op_latency_ms": pytest.approx(1.2)}


def test_committed_baseline_is_labelled():
    base = json.loads((HERE / "baseline.json").read_text())
    label = base["label"]
    for key in ("commit", "cpus", "protocol_version", "input_version", "scale", "base_seed", "run_seconds"):
        assert key in label
    spec = load_spec()
    for w in spec["workloads"]:
        assert {m["name"] for m in spec["end_to_end"]} <= set(base["workloads"][w["name"]])


@pytest.mark.parametrize("workload", [w["name"] for w in load_spec()["workloads"]])
def test_one_command_prints_every_metric(workload):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "5",
         "--seconds", "4", "--trace", "0"],
        cwd=HERE.parent, capture_output=True, text=True, timeout=600,
        env=dict(os.environ),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0
    for m in load_spec()["end_to_end"]:
        assert last["metrics"][m["name"]]["unit"] == m["unit"]
        assert last["metrics"][m["name"]]["value"] > 0
