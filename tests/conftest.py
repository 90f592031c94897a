from __future__ import annotations

import pytest

from python_etl_sample_spark.session import get_spark

#: the fast tier (`pytest -m fast`, VERDICT r12 item 4): the
#: contract-shaped signal — what the driver itself grades (oracle
#: parity, plan hygiene, coverage sync) plus the cheap invariant
#: modules. Everything else is the slow replay/property tier that the
#: full pre-freeze run still covers. Module-level split: the slow cost
#: concentrates in whole modules (randomized pure-Python replays,
#: hypothesis properties, per-round hand-arithmetic re-derivations),
#: so per-test marks would just rot.
_FAST_MODULES = {
    "test_harness_sensitivity",
    "test_parity",
    "test_plans",
    "test_coverage",
    "test_determinism",
    "test_loader",
    "test_session",
    "test_streaming_demo",
    "test_total_order",
    "test_rows_only_stability",
    "test_tpch6",
    "test_tools",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        # non-function items (doctests, ...) have no .module; they
        # default to the slow tier rather than breaking collection
        module = getattr(item, "module", None)
        tier = (
            "fast"
            if module is not None and module.__name__ in _FAST_MODULES
            else "slow"
        )
        item.add_marker(getattr(pytest.mark, tier))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("python-etl-sample-spark-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
