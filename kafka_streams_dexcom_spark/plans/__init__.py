"""Plan-inspection helpers: the 'did Catalyst do what we designed for'
audit surface (pushdown, pruning, broadcast, codegen, and the node
census of ``plan_shape``) used by tests/test_plans.py and
plan_shapes.py."""

from kafka_streams_dexcom_spark.plans.audit import (  # noqa: F401
    explain_str,
    plan_has,
    plan_shape,
    scan_read_schema,
)
