import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from collection_templates_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    return get_spark("tests", shuffle_partitions=4)


def pytest_collection_modifyitems(config, items):
    """`slow`-marked tests (exhaustive sweeps whose SEMANTICS are also
    covered by a fast test) are opt-in: the driver's default
    `python -m pytest tests/` must finish inside its budget or the gate
    proves nothing (r15 verdict #3 — the r15 run was cut off at ~91%
    with zero failures). SPARK_GRAFT_FULL_TESTS=1 runs everything."""
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow sweep; set SPARK_GRAFT_FULL_TESTS=1 to run"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)
