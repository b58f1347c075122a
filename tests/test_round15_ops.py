"""Round-15 optimization-round pins: the LPA self-loop contract, the
pagerank symmetric fast path and the per-query view-registration
skip."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_lpa_input_self_loops_are_ignored(spark):
    """label_propagation's exported-API contract (r14 ADVICE): an input
    self-loop must not multiply a node's self-vote. Star graph 1-2, 1-3
    plus a self-loop (2,2): without the filter, node 2 gets three label
    rows and out-votes its neighbor; with it, every node self-votes
    exactly once and the star converges to the hub's label."""
    from disco_spark.similarity.communities import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 2)], "u long, v long"
    )
    labels = {
        r["node"]: r["label"]
        for r in label_propagation(edges, rounds=2).collect()
    }
    # exactly one label row per node (the self-loop added none)
    assert sorted(labels) == [1, 2, 3]
    # with one self-vote each, ties at the first round resolve to the
    # smallest label (mode deterministic) and the component agrees on 1
    assert labels == {1: 1, 2: 1, 3: 1}


def test_pagerank_symmetric_matches_general(spark):
    """symmetric=True must be a pure physical-shape change: identical
    ranks to the general path on an edge list that really is
    symmetric."""
    from disco_spark.similarity.pagerank import pagerank

    pairs = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    both = pairs + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(both, "src long, dst long")
    general = {
        r["node"]: r["rank"] for r in pagerank(df, iters=4).collect()
    }
    fast = {
        r["node"]: r["rank"]
        for r in pagerank(df, iters=4, symmetric=True).collect()
    }
    assert general == fast


def test_load_tables_view_registration_skip(spark):
    """The per-query view re-registration skip must still re-register
    when the session alternates sf_dirs: after loading sf0.001 then a
    second dir, the temp view must resolve to the LATEST dir's data."""
    from disco_spark.session import load_tables

    load_tables(spark, SF_SMOKE)
    n_smoke = spark.table("orders").count()
    load_tables(spark, "/root/testdata/sf0.01")
    n_bigger = spark.table("orders").count()
    assert n_bigger > n_smoke
    # and switching back re-registers again (not stuck on last)
    load_tables(spark, SF_SMOKE)
    assert spark.table("orders").count() == n_smoke
