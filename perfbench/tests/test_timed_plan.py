"""The timed action runs the whole plan.

``count()`` lets Catalyst prune the computed columns (q30 loses every
sum/avg, qc01 its ``seq_in_tx`` window and commit join); the benchmark's
``noop`` write must keep them. The plan checked is the one Spark executed
for the timed action, read back from the SQL status store.
"""

from __future__ import annotations

import pytest

import gen
from run import QUERIES, timed_full_result


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf"))
    gen.query_tables(seed=1, sf=0.0005, out_dir=d)
    return d


def _executed_plan(spark, action) -> str:
    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsCount()
    action()
    executions = store.executionsList()
    assert executions.size() > before
    return executions.last().physicalPlanDescription()


def _plan(spark, sf_dir, short: str, action: str) -> str:
    from better_cdc_spark.queries import load_all

    df = load_all()[QUERIES[short]].fn(spark, sf_dir)
    act = (lambda: timed_full_result(df)) if action == "noop" else df.count
    return _executed_plan(spark, act)


def test_q30_keeps_its_aggregates(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q30", "noop")
    assert "NoopWrite" in plan or "noop" in plan.lower()
    for fn in ("sum(", "count("):
        assert fn in plan
    assert "l_extendedprice" in plan and "l_discount" in plan and "l_tax" in plan
    # negative control: count() prunes the money columns away
    pruned = _plan(spark, sf_dir, "q30", "count")
    assert "l_tax" not in pruned.split("== Physical Plan ==")[-1]


def test_qc01_keeps_window_and_broadcast_commit_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "qc01", "noop")
    assert "row_number()" in plan
    assert "BroadcastHashJoin" in plan
    pruned = _plan(spark, sf_dir, "qc01", "count")
    assert "row_number()" not in pruned
