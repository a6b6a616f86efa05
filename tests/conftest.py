"""Shared test fixtures: one local SparkSession per test session, and
one shared registry-query build per session."""

from __future__ import annotations

import os

import pytest

from clif_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="clif-spark-tests", master="local[4]",
                      shuffle_partitions=4)
    yield s
    s.stop()


#: One DataFrame per registry query per session, shared by the oracle
#: differential suite and the plan-regression suite (r18): building a
#: lifecycle query EXECUTES its whole store/stream lifecycle eagerly,
#: and the two registry-wide parameterizations paid that twice — once
#: to compare results, once only to read the final plan string. The
#: DataFrame (an immutable plan over store dirs that persist for the
#: session) serves both. The cache belongs to ONE session
#: (``_QUERY_DF_OWNER``) and is emptied when a different session asks,
#: so a session restart can neither serve plans bound to dead JVM
#: handles nor keep them alive (an ``id(spark)`` key could do both once
#: the id is reused).
_QUERY_DF_CACHE: dict = {}
_QUERY_DF_OWNER: object = None


def build_query_cached(spark, name: str):
    """Build (or reuse) registry query ``name``'s DataFrame at the
    suite's test SF. Failures are not cached — a broken build re-raises
    in every consumer, same as two independent builds."""
    return _build_entry(spark, name)[0]


def cached_plan_of(spark, name: str) -> str:
    """The PRE-EXECUTION physical plan string of the cached build —
    captured at build time, because once the oracle suite executes the
    DataFrame, ``executedPlan().toString()`` renders the AQE
    final+initial pair (every operator twice, runtime-replanned
    joins), which is not the plan the regression assertions were
    written against."""
    return _build_entry(spark, name)[1]


def _build_entry(spark, name: str):
    global _QUERY_DF_OWNER
    import __spark_entry__ as entry_mod

    if _QUERY_DF_OWNER is not spark:
        _QUERY_DF_CACHE.clear()
        _QUERY_DF_OWNER = spark
    sf_dir = os.environ.get("CLIF_TEST_SF_DIR", "/root/testdata/sf0.001")
    key = (name, sf_dir)
    if key not in _QUERY_DF_CACHE:
        df = entry_mod.queries()[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        _QUERY_DF_CACHE[key] = (df, plan)
    return _QUERY_DF_CACHE[key]


def launched(spark, action):
    """Run ``action()`` and count what it launched: (result, jobs,
    sql_executions), read after the listener bus drains. Jobs outside
    any job group count by the status tracker's newest id; executions
    by the SQL status store's newest execution id, because
    ``executionsCount()`` alone falls once the store evicts old ones."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def marks():
        bus.waitUntilEmpty()
        job = max(sc.statusTracker().getJobIdsForGroup() or [-1])
        n = store.executionsCount()
        execution = (store.executionsList(n - 1, 1).head().executionId()
                     if n else -1)
        return job, execution

    job0, ex0 = marks()
    result = action()
    job1, ex1 = marks()
    return result, job1 - job0, ex1 - ex0
