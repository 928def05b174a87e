"""Shared query fragments: each Spark builder equals its DuckDB CTE row for row.

Every query on the link graph, the order changelog or the event-transition
chain starts from one Spark builder and one oracle CTE constant. The two are
independent derivations of the same rule, so a break in either shows here at
sf0.001, without running the (mostly `slow`-tier) queries that use them.
"""

from __future__ import annotations

import pytest

from better_cdc_spark.io import load_table
from better_cdc_spark.queries import cdc_queries, llm, relational
from better_cdc_spark.session import tune_for_oracle
from tests.conftest import SF_SMOKE


def _duck_rows(duck, ctes: str, select: str) -> list[tuple]:
    """Rows of ``select`` over the CTE list ``ctes`` (which ends in a comma)."""
    return sorted(duck.execute(f"{ctes}\n    _end AS (SELECT 1)\n{select}").fetchall())


def _spark_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_link_graph_edges_match_oracle(spark, duck):
    tune_for_oracle(spark)
    docs, edges = llm._link_graph(spark, SF_SMOKE)
    want = _duck_rows(duck, llm._ORACLE_LINK_GRAPH, "SELECT src, dst FROM edges")
    assert want and _spark_rows(edges) == want
    assert docs.count() == duck.execute("SELECT COUNT(*) FROM documents").fetchone()[0]


def test_undirected_graph_matches_oracle(spark, duck):
    tune_for_oracle(spark)
    _, edges = llm._link_graph(spark, SF_SMOKE)
    want = _duck_rows(duck, llm._ORACLE_UNDIRECTED_GRAPH, "SELECT u, v FROM und")
    assert want and _spark_rows(llm._undirected(edges)) == want


@pytest.mark.parametrize("waves", [(1, 2), (2, 4)])
def test_order_versions_match_oracle(spark, duck, waves):
    tune_for_oracle(spark)
    _, changes = cdc_queries._order_versions(spark, SF_SMOKE, waves)
    first, last = waves
    want = _duck_rows(
        duck,
        cdc_queries._ORACLE_VERSIONS.format(first=first, last=last),
        "SELECT id, status, total_cents, operation, commit_seq FROM versions",
    )
    assert {r[4] for r in want} == set(waves)
    assert _spark_rows(changes) == want


def test_transition_chain_matches_oracle(spark, duck):
    tune_for_oracle(spark)
    ev = load_table(spark, SF_SMOKE, "events")
    types, kk, probs_f = relational._transition_chain(ev)
    ctes = relational._ORACLE_TRANSITIONS
    assert _spark_rows(probs_f) == _duck_rows(duck, ctes, "SELECT f, p FROM probs_f")
    assert _spark_rows(types) == _duck_rows(duck, ctes, "SELECT t, idx FROM types")
    assert _spark_rows(kk) == _duck_rows(duck, ctes, "SELECT k FROM kk")
