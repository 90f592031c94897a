"""Env knobs are validated when ``session`` is imported."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PRINT = (
    "from python_etl_sample_spark import session as s; "
    "print(s._CPUS, s._DRIVER_MEM, s._PREFER_SORT_MERGE_JOIN, s._SHJ_LOCAL_MAP_THRESHOLD)"
)


def _import_session(env: dict[str, str]) -> subprocess.CompletedProcess:
    full = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    full.update(env)
    full["PYTHONPATH"] = REPO
    return subprocess.run(
        [sys.executable, "-c", _PRINT],
        env=full,
        capture_output=True,
        text=True,
        timeout=120,
    )


def test_defaults():
    out = _import_session({})
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["*", "8g", "false", str(64 * 1024 * 1024)]


#: var -> (position in the printed line, {accepted: normalized}, rejected)
KNOBS = {
    # normalized to lower case; the benchmark leaves it unset
    "SPARK_GRAFT_PREFER_SORT_MERGE_JOIN": (
        2, {"TRUE": "true", "False": "false"}, ["ture", "1", ""]
    ),
    "SPARK_GRAFT_SHJ_LOCAL_MAP_THRESHOLD": (
        3, {"0": "0", "67108864": "67108864"}, ["-1", "64m", "1.5"]
    ),
    # the benchmark sets min(4, cpus); tier-1 verify sets nproc
    "SPARK_GRAFT_CPUS": (0, {"*": "*", "4": "4", "32": "32"}, ["0", "-2", "four", "2*"]),
    # the benchmark sets 2g
    "SPARK_GRAFT_DRIVER_MEM": (
        1, {"2g": "2g", "8G": "8G", "512m": "512m"}, ["0g", "2gb", "big", "2 g"]
    ),
}


@pytest.mark.parametrize("var", sorted(KNOBS))
def test_knob(var):
    position, good, bad = KNOBS[var]
    for value, expected in good.items():
        out = _import_session({var: value})
        assert out.returncode == 0, (value, out.stderr)
        assert out.stdout.split()[position] == expected, value
    for value in bad:
        out = _import_session({var: value})
        assert out.returncode != 0, value
        assert f"ValueError: {var}=" in out.stderr, (value, out.stderr[-500:])
