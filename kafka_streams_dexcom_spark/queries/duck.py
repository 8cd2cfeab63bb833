"""DuckDB SQL fragments the oracle modules share. A leaf module:
queries/text.py and queries/dedup.py import each other while their
ORACLES tables are built, so a fragment both read at import time lives
here. The Spark twins are operators/dedup.py:HASH60_TPL and TOKENS_TPL;
no oracle reaches those."""

from __future__ import annotations

from kafka_streams_dexcom_spark.functions.hashing import hash60_sql

# the canonical portable-hash template (single definition in
# functions/hashing.py)
DUCK_HASH60 = hash60_sql("{x}")

# the one whitespace tokenizer: the NON-EMPTY splits of {x}
DUCK_TOKENS = "list_filter(string_split_regex({x}, '\\s+'), t -> t != '')"
