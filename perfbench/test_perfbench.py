"""Tests of the benchmark itself: the span and percentile arithmetic, and a
tiny-input smoke run of every workload in both modes.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def span(name, start, end, parent=None):
    return tracing.Span(name, name, start, end, parent, "job")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        span("op", 0.0, 10.0),
        span("a", 1.0, 4.0, parent=0),
        span("b", 3.0, 5.0, parent=0),  # overlaps a: union 1..5
        span("c", 8.0, 12.0, parent=0),  # runs past its parent: clipped to 8..10
        span("d", 2.0, 3.0, parent=1),
    ]
    assert tracing.self_times(spans) == pytest.approx([4.0, 2.0, 2.0, 4.0, 1.0])


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert tracing.tail(xs) == (90.0, 90.0)
    assert tracing.tail(xs[:40]) == (75.0, 30.0)
    assert tracing.tail(xs[:10]) is None
    assert tracing.tail(list(reversed(xs[:11]))) == (100.0 / 11, 1.0)


def test_union_length_and_metric_parsing():
    assert tracing.union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert tracing.union_length([]) == 0.0
    assert tracing.parse_metric("total (min, med, max (stageId: taskId))\n1.6 s (401 ms, 409 ms)") == 1.6
    assert tracing.parse_metric("1015.0 KiB") == 1015.0 * 1024
    assert tracing.parse_metric("200,000") == 200000.0
    assert tracing.parse_metric("3 ms") == pytest.approx(0.003)


def bench(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_every_metric_prints_and_every_check_passes(workload, trace):
    p = bench(
        "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"
    )
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {k: v["unit"] for k, v in result["metrics"].items()}
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_without_the_engine_source(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = bench("--workload", "n5_volume", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
    assert "n5_dask_spark" in p.stderr
