"""Smoke tests for the benchmark: every workload at tiny size, both the
timed and the traced run, plus the tracer's arithmetic.

    python3 -m pytest perfbench/test_smoke.py -q

Run from the checkout root. The four tiny runs take a few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from tracing import Tracer  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(HERE / "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_reports_every_metric(workload, trace, tmp_path):
    spans = tmp_path / "spans.jsonl"
    p = _run(
        ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--tiny", "--spans-out", str(spans),
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, p.stderr[-3000:]
    assert out["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
        assert not spans.exists()
    else:
        recorded = [json.loads(line) for line in spans.read_text().splitlines()]
        assert recorded and all(
            {"id", "name", "parent", "request", "start", "end", "jobs"} <= set(r)
            for r in recorded
        )


def test_refuses_to_run_without_the_package(tmp_path):
    p = _run(tmp_path, "--workload", "index", "--seed", "1", "--seconds", "1")
    assert p.returncode != 0
    assert "correct" not in p.stdout


class _FakeTracker:
    def getJobIdsForGroup(self, group):
        return [1] if group == "span-2" else []

    def getJobInfo(self, job_id):
        return type("J", (), {"stageIds": [7, 8]})()

    def getStageInfo(self, stage_id):
        return type("S", (), {"numTasks": 4})()


class _FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)

    def setLocalProperty(self, key, value):
        self.groups.append(value)

    def statusTracker(self):
        return _FakeTracker()


def test_tracer_self_time_coverage_and_job_counts():
    sc = _FakeContext()
    tr = Tracer(sc)
    with tr.span("request", request=5) as root:
        with tr.span("child") as child:
            pass
    # the job group is the span id, restored to the parent, then cleared
    assert sc.groups == ["span-1", "span-2", "span-1", None, None]
    assert (child.parent, child.request, child.jobs, child.stages, child.tasks) == (
        root.id, 5, 1, 2, 8,
    )
    assert root.jobs == 0
    root.start, root.end, child.start, child.end = 0.0, 10.0, 1.0, 9.0
    assert tr.self_seconds(root) == pytest.approx(2.0)
    assert tr.coverage("request") == pytest.approx(0.8)
