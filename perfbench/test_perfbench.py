"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The span tests are pure Python.  The smoke tests run every workload at
its smoke size in both modes (a few minutes on 4 cores) and check that
the last line names exactly the metrics of BENCHMARK.json and that every
output check passed.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.trace import Span, Tracer, self_time_by_name, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_self_times_on_hand_built_tree():
    spans = [
        Span(0, "root", 0.0, 10.0, None, "r"),
        Span(1, "a", 1.0, 4.0, 0, "r"),
        Span(2, "b", 3.0, 6.0, 0, "r"),  # overlaps a: the union counts once
        Span(3, "a.leaf", 2.0, 3.0, 1, "r"),
        Span(4, "b", 9.0, 12.0, 0, "r"),  # runs past its parent: clipped
    ]
    assert self_times(spans) == {0: 10.0 - 5.0 - 1.0, 1: 2.0, 2: 3.0, 3: 1.0, 4: 3.0}
    assert self_time_by_name(spans) == {"root": 4.0, "a": 2.0, "b": 6.0, "a.leaf": 1.0}


def test_tracer_nests_and_writes(tmp_path):
    ticks = iter(range(100))
    tr = Tracer("run-1", clock=lambda: float(next(ticks)))
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("outer", None), ("inner", 0), ("inner", 0)]
    assert self_time_by_name(tr.spans) == {"outer": 3.0, "inner": 2.0}
    path = tmp_path / "spans.json"
    tr.write(str(path))
    doc = json.loads(path.read_text())
    assert doc["run_id"] == "run-1"
    assert [s["name"] for s in doc["spans"]] == ["outer", "inner", "inner"]
    assert all(s["run_id"] == "run-1" for s in doc["spans"])


def test_failed_iteration_is_counted_once_and_the_run_goes_on():
    from perfbench.run import run_loop
    from perfbench.workloads import Ops

    class Flaky:
        def __init__(self):
            self.ops, self.n = Ops(), 0

        def iteration(self):
            self.n += 1
            if self.n == 1:
                self.ops.call("job", lambda: 1 / 0)  # counted by the call
            if self.n == 2:
                raise ValueError("output missing")  # counted by the loop
            return {"iter_s": 1.0}

    wl = Flaky()
    assert run_loop(wl, 0, 3) == [{"iter_s": 1.0}]
    assert wl.n == 3
    assert (wl.ops.attempted, wl.ops.failed, len(wl.ops.failures)) == (2, 2, 2)


def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    res = _run(tmp_path, "--workload", "sketch", "--seed", "1", "--seconds", "1", "--trace", "0",
               timeout=60)
    assert res.returncode != 0
    assert res.stdout.strip() == ""


with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_prints_every_metric_and_passes_checks(workload, trace):
    res = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", str(trace), "--smoke")
    assert res.returncode == 0, res.stderr[-3000:]
    last = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    report = json.loads(res.stdout.strip().splitlines()[-2])
    assert last["correct"] and last["failed"] == 0, report["failures"]
    assert last["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert list(last["metrics"]) == [m["name"] for m in declared]
    for m in declared:
        got = last["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] == got["value"] and abs(got["value"]) != float("inf")
        if not trace:
            assert got["value"] > 0, m["name"]
