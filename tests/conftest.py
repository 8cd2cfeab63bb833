from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_dexcom_spark.plans import plan_shape  # noqa: E402
from kafka_streams_dexcom_spark.queries import all_queries  # noqa: E402
from kafka_streams_dexcom_spark.session import get_spark  # noqa: E402

# Small SF for fast unit tests; parity vs the driver's sf0.01 is exercised
# by check_parity.py (run manually / per-milestone).
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pinned_session(app_name: str):
    """The tests' session, in which plan_shapes.py also writes
    PLAN_SHAPES.json. fan_out_small, file-split sizing and AQE's
    partition coalescing read the default parallelism, which local[N]
    sets to N, so unpinned a 2-core and a 4-core session plan different
    exchanges for the same query. It is pinned at 4, not at the 8
    shuffle partitions: on the tiny test inputs more tasks are only more
    scheduling overhead, and 4 is what a 4-core session had."""
    return get_spark(
        app_name=app_name,
        shuffle_partitions=8,
        extra_conf={"spark.default.parallelism": "4"},
    )


@pytest.fixture(scope="session")
def spark():
    s = pinned_session("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def query_shape(spark, sf_dir):
    """``plan_shape`` of a registered query by name, each query built at
    most once per session: the plan lint, the golden-shape test and the
    per-query plan audits read the same census."""
    shapes: dict[str, dict[str, int]] = {}

    def shape(name: str) -> dict[str, int]:
        if name not in shapes:
            shapes[name] = plan_shape(all_queries()[name](spark, sf_dir))
        return shapes[name]

    return shape
