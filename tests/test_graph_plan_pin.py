"""Plan and job ceilings for the 11 graph queries (the co-order graph
family on the similarity/triangles.py edge harness, plus PageRank) at
SF_SMOKE: keyed shuffle exchanges, broadcast exchanges and Spark jobs
per query. A refactor of the shared harness must not add any of them.
The ceilings are the counts the queries read before the harness was
shared; they held over three runs. Lower a ceiling when a change cuts
the count for good."""

from __future__ import annotations

import re

import pytest

from disco_spark import registry
from disco_spark.ops import job_group
from disco_spark.session import load_tables

from tests.conftest import SF_SMOKE

# name -> (Spark jobs, keyed Exchange nodes, BroadcastExchange nodes)
CEILINGS = {
    "graph_assortativity_degree": (19, 16, 4),
    "graph_clustering_coefficient": (14, 12, 2),
    "graph_degree_distribution": (6, 4, 0),
    "graph_kcore_membership": (28, 82, 26),
    "graph_khop_reachability": (36, 199, 43),
    "graph_label_propagation": (26, 50, 6),
    "graph_local_bridges": (18, 15, 3),
    "graph_ra_link_prediction": (13, 10, 3),
    "graph_triangle_count": (10, 7, 2),
    "market_basket_lift": (14, 8, 3),
    "pagerank_supplier_part": (40, 124, 36),
}


def _exchanges(df) -> tuple[int, int]:
    """(keyed shuffle Exchange nodes, BroadcastExchange nodes) in the
    executed plan, cached sub-plans included. Round-robin exchanges are
    left out: their count follows the host's core count, not the plan's
    shape."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return (
        len(re.findall(r"\bExchange (?!RoundRobinPartitioning)", plan)),
        len(re.findall(r"\bBroadcastExchange\b", plan)),
    )


@pytest.mark.parametrize("name", sorted(CEILINGS))
def test_graph_query_stays_under_its_ceilings(spark, name):
    registry.load_all()
    # the first read of a dataset infers its schemas in Spark jobs of
    # its own; they are not the query's
    load_tables(spark, SF_SMOKE)
    with job_group(spark, f"graph_plan_pin.{name}") as group:
        df = registry.QUERIES[name](spark, SF_SMOKE)
        keyed, broadcast = _exchanges(df)
        df.collect()
    jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    got = (jobs, keyed, broadcast)
    assert all(g <= c for g, c in zip(got, CEILINGS[name])), (got, CEILINGS[name])
