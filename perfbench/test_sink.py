"""Pruning guard for the benchmark's sink.

``count()`` lets Catalyst drop output columns and whole aggregates, so a
timing taken through it can skip work the query declares.  The benchmark
writes every output to a ``noop`` sink instead.  This test captures the
optimized plan Spark ran for each benchmarked query's sink and checks that
it is the DataFrame's own optimized plan, node for node; and that the check
would notice pruning, by showing that ``count()`` changes the plan of at
least one query.

Run from the repo root: python3 -m pytest perfbench/test_sink.py -q
"""

from __future__ import annotations

import re
import time

import pytest

import common
import tail


class _Capture:
    """QueryExecutionListener (through the py4j callback server) that keeps
    the optimized plan of every action the session runs."""

    def __init__(self):
        self.plans: list[str] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java API
        self.plans.append(qe.optimizedPlan().toString())

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — Java API
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _nodes(plan: str) -> list[str]:
    """Operator lines without tree glyphs or expression ids."""
    out = []
    for line in plan.splitlines():
        line = re.sub(r"^[\s:+\-]*", "", line)
        out.append(re.sub(r"#\d+L?", "", line))
    return [l for l in out if l]


@pytest.fixture(scope="module")
def env():
    common.check_program()
    data_dir, _ = common.dataset()
    common.apply_spark_env()
    from pyspark.java_gateway import ensure_callback_server_started

    from clickhouseocp_spark import get_spark
    from clickhouseocp_spark.queries import all_queries

    spark = get_spark("perfbench-sink-guard")
    ensure_callback_server_started(spark.sparkContext._gateway)
    cap = _Capture()
    spark._jsparkSession.listenerManager().register(cap)
    yield spark, data_dir, all_queries(), cap
    common.stop_session(spark)


def _captured(cap: _Capture, action) -> str:
    n = len(cap.plans)
    action()
    deadline = time.time() + 30
    while len(cap.plans) == n and time.time() < deadline:
        time.sleep(0.05)
    assert len(cap.plans) > n, "no plan captured for the action"
    return cap.plans[-1]


@pytest.mark.parametrize("name", tail.QUERIES)
def test_sink_runs_the_dataframes_own_plan(env, name):
    spark, data_dir, registry, cap = env
    df = registry[name].fn(spark, data_dir)
    own = _nodes(df._jdf.queryExecution().optimizedPlan().toString())
    sink = _captured(cap, lambda: df.write.format("noop").mode("overwrite").save())
    # the write command's single child is the DataFrame's plan
    assert _nodes(sink)[1:] == own, f"{name}: the sink ran a different plan"


def test_guard_detects_count_pruning(env):
    spark, data_dir, registry, cap = env
    pruned = []
    for name in tail.QUERIES:
        df = registry[name].fn(spark, data_dir)
        own = _nodes(df._jdf.queryExecution().optimizedPlan().toString())
        counted = _captured(cap, lambda: df.count())
        if _nodes(counted)[1:] != own:
            pruned.append(name)
    assert pruned, "count() pruned no benchmarked query; the guard cannot tell"
