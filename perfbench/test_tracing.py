"""The traced run credits every Spark job to the query that caused it.

Runs one short traced ``analytics_heavy`` run in a subprocess and reads
its result line and trace file. Micro-batch jobs run on a stream's own
thread under the stream's runId, so they reach a query's figures only
through ``tracing.fold_stream_groups``. Spark reports the data a
stateful ``applyInPandasWithState`` stage returns from its Python
workers, but not what it sends them, so the stream's build is checked
on the former.

    python3 -m pytest perfbench/test_tracing.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import data  # noqa: E402

WORKLOAD, SEED = "analytics_heavy", 0
STATEFUL = "stream_demo_stateful"


@pytest.fixture(scope="module")
def traced():
    """(result line, trace file) of one traced run."""
    proc = subprocess.run(
        [sys.executable, str(data.BENCH_DIR / "run.py"), "--workload", WORKLOAD,
         "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
        cwd=data.REPO_ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(data.WORK / "trace" / f"{WORKLOAD}-seed{SEED}.json") as f:
        return result, json.load(f)


def test_python_worker_traffic_is_counted(traced):
    result, _ = traced
    assert result["metrics"]["py.mb_to_worker"]["value"] > 0
    assert result["metrics"]["py.mb_from_worker"]["value"] > 0


def test_stateful_stream_jobs_reach_its_build(traced):
    _, trace = traced
    builds = [g for k, g in trace["job_groups"].items()
              if k.startswith("p") and k.endswith(f"|{STATEFUL}|build")]
    assert builds, f"no build job group of {STATEFUL}"
    for g in builds:
        assert g["jobs"] > 0 and g["py_from_worker_mb"] > 0 and g["py_stage_run_s"] > 0, g
