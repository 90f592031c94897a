"""The timed action computes what the query's own plan computes.

For every query of every workload, the initial physical plan of the
timed noop-sink write (read from Spark's event log) must keep every
Exchange and Python exec node that the query's own ``executedPlan``
contains. ``count()`` fails this for many queries; the noop sink must
not.

    python3 -m pytest perfbench/test_plan_pruning.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import data  # noqa: E402
import plans  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

PREFIX = "plan-check:"

# No query is exempt. Most builds in these workloads run Spark jobs
# (each ``sources.table`` call reads parquet footers in a job), and
# some run much more while building; what a build executes eagerly is
# outside any returned plan, so no plan check can see it. The traced
# run times it as ``operators.build_s`` and counts its jobs as
# ``operators.build_jobs``. These run the most at build time:
# - source_csv: stages a CSV copy of a fixture on its first call
# - dedup_embedding_cosine, text_bpe_encode: build a session memo on
#   their first call
# - stream_demo_stateful: drains a bounded applyInPandasWithState stream


@pytest.fixture(scope="module")
def observed():
    """(own plan, write plan) per (workload, query), from one session."""
    run.configure_process(event_log=True)
    from python_etl_sample_spark import scratch
    from python_etl_sample_spark.registry import REGISTRY, load_all_operators
    from python_etl_sample_spark.session import get_spark

    load_all_operators()
    scratch._ROOT = str(data.WORK / "scratch")
    spark = get_spark("perfbench-plan-check")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.ui.explainMode", "extended")
    own: dict[str, str] = {}
    sf_dir = data.fixture_dir()
    try:
        for wl, queries in WORKLOADS.items():
            for name in queries:
                key = f"{wl}/{name}"
                df = REGISTRY[name].fn(spark, sf_dir)
                own[key] = plans.plan_tree(df._jdf.queryExecution())
                spark.sparkContext.setJobDescription(PREFIX + key)
                run.noop_write(df)
                spark.sparkContext.setJobDescription(None)
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
    log = data.WORK / "eventlog" / app_id
    written = plans.write_plans(str(log), PREFIX)
    log.unlink()
    return own, written


CASES = [f"{wl}/{q}" for wl, qs in WORKLOADS.items() for q in qs]


@pytest.mark.parametrize("key", CASES)
def test_noop_write_keeps_exchanges_and_python_nodes(observed, key):
    own, written = observed
    assert key in written, f"no SQL execution recorded for the write of {key}"
    lost = plans.dropped(plans.node_counts(own[key]), plans.node_counts(written[key]))
    assert not lost, f"{key}: the noop write's plan drops {lost}"


def test_counts_see_real_plans(observed):
    """The node counter finds exchanges in the workloads' plans at all."""
    own, _ = observed
    assert sum(sum(plans.node_counts(t).values()) for t in own.values()) > 0
