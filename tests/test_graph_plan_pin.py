"""Plan and job ceilings for the 11 graph queries (the co-order graph
family on the similarity/triangles.py edge harness, plus PageRank) at
SF_SMOKE: keyed shuffle exchanges, broadcast exchanges and Spark jobs
per query. A refactor of the shared harness must not add any of them.
The ceilings are the counts the queries read on the shared harness;
they held over three runs. Lower a ceiling when a change cuts the count
for good."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tests.plan_pin import query_counts

# name -> (Spark jobs, keyed Exchange nodes, BroadcastExchange nodes)
CEILINGS = {
    "graph_assortativity_degree": (13, 16, 4),
    "graph_clustering_coefficient": (13, 10, 2),
    "graph_degree_distribution": (6, 4, 0),
    "graph_kcore_membership": (28, 82, 26),
    "graph_khop_reachability": (29, 99, 24),
    "graph_label_propagation": (26, 50, 6),
    "graph_local_bridges": (11, 14, 3),
    "graph_ra_link_prediction": (13, 10, 3),
    "graph_triangle_count": (10, 7, 2),
    "market_basket_lift": (8, 8, 3),
    "pagerank_supplier_part": (40, 124, 36),
}


@pytest.mark.parametrize("name", sorted(CEILINGS))
def test_graph_query_stays_under_its_ceilings(spark, name):
    got = query_counts(spark, name, SF_SMOKE)
    assert all(g <= c for g, c in zip(got, CEILINGS[name])), (got, CEILINGS[name])
