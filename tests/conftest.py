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


def _last_execution_id(spark) -> int:
    """Id of the newest SQL execution in the status store, -1 if none.
    The listener bus fills the store asynchronously, so it is drained
    first; the store lists executions in id order."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    n = store.executionsCount()
    if n == 0:
        return -1
    return store.executionsList(n - 1, 1).head().executionId()


@pytest.fixture(scope="session")
def query_census(spark, sf_dir):
    """``(plan_shape, construction_plans)`` of a registered query by
    name, each query built at most once per session: the plan lint, the
    golden-shape test and the per-query plan audits read the same
    census. ``construction_plans`` holds the physical plan of every SQL
    execution that ran while the query was being built (eager lineage
    cuts, artifact writes, driver-side counts and collects), read from
    the SQL status store; the returned DataFrame's own plan shows none
    of them. A session artifact that an earlier test already built is
    served from the cache and runs no job here."""
    census: dict[str, tuple[dict[str, int], list[str]]] = {}
    store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001

    def build(name: str) -> tuple[dict[str, int], list[str]]:
        if name not in census:
            first = _last_execution_id(spark) + 1
            df = all_queries()[name](spark, sf_dir)
            plans = []
            for i in range(first, _last_execution_id(spark) + 1):
                execution = store.execution(i)
                if execution.isDefined():
                    plans.append(execution.get().physicalPlanDescription())
            census[name] = (plan_shape(df), plans)
        return census[name]

    return build


@pytest.fixture(scope="session")
def query_shape(query_census):
    """``plan_shape`` of a registered query's returned DataFrame."""
    return lambda name: query_census(name)[0]


def oracle_reach(builders: set[str]) -> tuple[set[str], list[tuple[str, str]]]:
    """Walk every module-level definition under queries/ that an ORACLES
    entry (the dict literal or an ``ORACLES[...] =`` assignment)
    reaches by name. Returns the names reached and the (definition,
    name) pairs where a reached definition names one of ``builders``,
    the Spark-side builders no oracle may share: an oracle that shares
    the engine's code cannot catch the engine's bug."""
    import ast
    import pathlib

    import kafka_streams_dexcom_spark as pkg

    defs, tables = {}, []
    for f in sorted((pathlib.Path(pkg.__file__).parent / "queries").glob("*.py")):
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.setdefault(node.name, []).append(node)
            elif isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        defs.setdefault(t.id, []).append(node)
                    if "ORACLES" in {
                        n.id for n in ast.walk(t) if isinstance(n, ast.Name)
                    }:
                        tables.append(node)
    assert tables

    def names(node):
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                yield n.id
            elif isinstance(n, ast.Attribute):
                yield n.attr
            elif isinstance(n, ast.alias):
                yield n.asname or n.name

    seen, todo, offenders = set(), list(tables), []
    while todo:
        node = todo.pop()
        for name in names(node):
            if name in builders:
                offenders.append((getattr(node, "name", "ORACLES"), name))
            if name in defs and name not in seen:
                seen.add(name)
                todo.extend(defs[name])
    return seen, offenders
