"""Global plan lint: no registered query may plan the one unconditional
scale-killer, a true CartesianProduct node (a broadcast NLJ from an
intentional F.broadcast crossJoin is fine; a CartesianProduct means two
non-broadcast sides pair-expand).

Every query is built, and the lint reads two kinds of plan: the
returned DataFrame's live plan, and the plan of every SQL execution
that ran while the query was being built (eager lineage cuts, artifact
writes, driver-side counts). A cut hides its input from the final plan,
so the second kind is where a product behind a cut shows. Both are
checked live, not on PLAN_SHAPES.json, so a carelessly regenerated
golden file cannot hide one."""

from __future__ import annotations

import pytest

from kafka_streams_dexcom_spark.queries import all_queries


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_no_cartesian_product(query_census, name):
    shape, construction_plans = query_census(name)
    assert shape["CartesianProduct"] == 0, f"{name}: {shape}"
    behind_cuts = [p for p in construction_plans if "CartesianProduct" in p]
    assert not behind_cuts, f"{name}: {behind_cuts[0]}"
