#!/usr/bin/env python
"""Regenerate PLAN_SHAPES.json, the golden plan shape of every registered
query: the node census of ``plans.plan_shape`` (exchanges, joins by
strategy, aggregates, windows, top-k nodes, generators, Python stages) of
each query's pre-execution plan, built at the test suite's sf0.001 in the
test suite's session layout. tests/test_plans.py checks every query
against it.

Run after changing any operator or query, then review the JSON diff: a
changed line is a changed plan, and the commit says why.

    python plan_shapes.py
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from kafka_streams_dexcom_spark.plans import plan_shape  # noqa: E402
from kafka_streams_dexcom_spark.queries import all_queries  # noqa: E402
from tests.conftest import SF_DIR, pinned_session  # noqa: E402

GOLDEN = os.path.join(ROOT, "PLAN_SHAPES.json")


def main() -> None:
    spark = pinned_session("plan_shapes")
    spark.sparkContext.setLogLevel("ERROR")
    # one sorted line per query, so a plan change is a one-line diff
    lines = [
        f"{json.dumps(name)}: {json.dumps(plan_shape(build(spark, SF_DIR)))}"
        for name, build in sorted(all_queries().items())
    ]
    with open(GOLDEN, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")
    print(f"wrote {os.path.basename(GOLDEN)} ({len(lines)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
