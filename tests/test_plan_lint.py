"""Global plan lint: no registered query's physical plan may hold the one
unconditional scale-killer, a true CartesianProduct node (a broadcast NLJ
from an intentional F.broadcast crossJoin is fine; a CartesianProduct
means two non-broadcast sides pair-expand).

Every query is built, eager lineage cuts and artifact builds included, so
none escapes. The invariant is checked on the live plan, not on
PLAN_SHAPES.json, so a carelessly regenerated golden file cannot hide it."""

from __future__ import annotations

import pytest

from kafka_streams_dexcom_spark.queries import all_queries


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_cartesian_product(query_shape, name):
    shape = query_shape(name)
    assert shape["CartesianProduct"] == 0, f"{name}: {shape}"
