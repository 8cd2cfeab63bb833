"""Scalar/column helper functions (all JVM-side Catalyst expressions)."""

from kafka_streams_dexcom_spark.functions.hashing import hash60_sql  # noqa: F401
from kafka_streams_dexcom_spark.functions.json import (  # noqa: F401
    json_int,
    json_int_or_zero,
)
from kafka_streams_dexcom_spark.functions.timeofday import time_of_day  # noqa: F401
