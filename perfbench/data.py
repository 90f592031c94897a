"""Benchmark inputs and the run's working directory.

The sf0.01 fixture set is committed under ``fixtures/`` (a byte copy of
the sf0.01 test tables described in TESTDATA.md and FIXTURES.md), so a
run reads its inputs from the checkout alone.
"""

from __future__ import annotations

from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
REPO_ROOT = BENCH_DIR.parent
FIXTURES = BENCH_DIR / "fixtures"
#: everything a run writes: scratch staging, Spark's local and temp
#: dirs, the warehouse, event logs and trace files
WORK = BENCH_DIR / ".work"


def program_missing() -> str | None:
    """Why the program under test cannot be run from this checkout, or None."""
    for rel in ("python_etl_sample_spark/__init__.py", "bench.py"):
        if not (REPO_ROOT / rel).is_file():
            return f"missing {rel} under {REPO_ROOT}"
    return None


def fixture_dir() -> str:
    """Absolute directory of the committed sf0.01 fixture set."""
    path = FIXTURES / "sf0.01"
    if not (path / "lineitem.parquet").is_file():
        raise FileNotFoundError(f"missing fixture set {path}")
    return str(path)
