"""Tests of the benchmark itself.

    python -m pytest perfbench/tests -q

The smoke tests run each workload once at scale 0.001 in a fresh
process, traced and untraced, and need a working Spark (several minutes
in all).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import spans  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _span(sid, name, start, end, parent):
    return spans.Span(sid, name, start, end, parent, "r")


def test_self_times_of_a_sequential_tree_add_up_to_the_root():
    tree = [
        _span(0, "pass", 0.0, 10.0, None),
        _span(1, "q.a", 1.0, 4.0, 0),
        _span(2, "plans.build", 1.5, 2.5, 1),
        _span(3, "spark.save", 2.5, 3.75, 1),
        _span(4, "q.b", 5.0, 9.0, 0),
        _span(5, "spark.save", 5.5, 8.0, 4),
    ]
    st = spans.self_times(tree)
    assert st == pytest.approx({0: 3.0, 1: 0.75, 2: 1.0, 3: 1.25, 4: 1.5, 5: 2.5})
    assert sum(st.values()) == pytest.approx(10.0)
    by_name = spans.self_time_by_name(tree)
    assert by_name["spark.save"] == pytest.approx(3.75)
    assert sum(by_name.values()) == pytest.approx(10.0)


def test_layer_self_time_leaves_out_the_root_and_skipped_spans():
    tree = [
        _span(0, "pass", 0.0, 10.0, None),
        _span(1, "q.a", 1.0, 4.0, 0),
        _span(2, "plans.build", 1.5, 2.5, 1),
        _span(3, "bench.probe", 4.0, 4.5, 0),
        _span(4, "q.b", 5.0, 9.0, 0),
        _span(5, "bench.probe", 8.5, 9.0, 4),
        _span(6, "pass", 11.0, 12.0, None),
        _span(7, "q.a", 11.0, 12.0, 6),
    ]
    # q.a 3.0 (plans.build 1.0 of it) + q.b 4.0 less its 0.5 of probe;
    # the 3.0 that no span covers and both probes stay out
    assert spans.layer_self_time(tree, 0, skip=("bench.probe",)) == pytest.approx(6.5)
    assert spans.layer_self_time(tree, 0) == pytest.approx(7.5)
    assert spans.layer_self_time(tree, 6) == pytest.approx(1.0)


def test_overlapping_children_are_subtracted_once():
    tree = [
        _span(0, "root", 0.0, 10.0, None),
        _span(1, "a", 1.0, 6.0, 0),
        _span(2, "b", 4.0, 8.0, 0),  # overlaps a on [4, 6]
        _span(3, "c", 8.0, 8.5, 0),  # touches b
    ]
    assert spans.self_times(tree)[0] == pytest.approx(10.0 - 7.5)


def test_subtree_keeps_only_descendants():
    tree = [
        _span(0, "pass", 0.0, 4.0, None),
        _span(1, "x", 0.5, 1.0, 0),
        _span(2, "pass", 5.0, 9.0, None),
        _span(3, "y", 6.0, 7.0, 2),
        _span(4, "z", 6.5, 6.75, 3),
    ]
    assert [s.sid for s in spans.subtree(tree, 2)] == [2, 3, 4]


def test_tracer_records_parents_and_nothing_when_disabled():
    t = spans.Tracer("r", enabled=True)
    with t.span("pass"):
        with t.span("op"):
            pass
    assert [(s.name, s.parent) for s in t.spans] == [("pass", None), ("op", 0)]
    off = spans.Tracer("r", enabled=False)
    with off.span("pass"):
        pass
    assert off.spans == []


def _run(workload: str, trace: int, cwd: str = REPO) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_passes_checks_and_prints_declared_metrics(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    report = json.loads(lines[-2])["report"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, report["failures"]
    assert result["attempted"] >= 1
    assert report["checks"] and all(report["checks"].values())
    section = "per_layer" if trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in BENCH[section]}
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    assert printed == declared
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
    if trace:
        assert abs(result["metrics"]["trace.unattributed_share"]["value"]) <= 0.02
    else:
        assert all(result["metrics"][k]["value"] > 0 for k in declared)


def test_refuses_to_run_without_the_engine(tmp_path):
    """A checkout holding only the benchmark fails fast, printing no result."""
    import shutil

    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
