"""PageRank as a DataFrame loop — the reference's client-driven
iterative job (examples/datamining/page_rank.py: each iteration a
MapReduce job emitting rank/out_degree contributions, resubmitted by the
client until convergence) rebuilt per SURVEY §2.8's mapping of client
loops onto persisted DataFrame iterations.

Scale design: ranks and edges are co-partitioned on src across
iterations (one `repartition` up front, reused by every join), so each
iteration is one co-located join + one groupBy(dst) shuffle of (dst,
contribution) — the minimal movement PageRank admits. Nothing collects
to the driver; dangling mass is redistributed via a scalar agg (O(1)
rows to the driver per iteration).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark.registry import query
from disco_spark.session import default_parallelism, lazy_persist, load_tables
from disco_spark.similarity.triangles import (
    DEG_CTE,
    UND_CTE,
    _both_orientations,
    _degrees,
    unrolled_ctes,
)


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    partitions: int | None = None,
    symmetric: bool = False,
) -> DataFrame:
    """(src, dst) edges -> (node, rank). Fixed iteration count,
    deterministic double arithmetic (contributions aggregated per dst
    with Spark's partial/final sum over a fixed partitioning).

    Fully lazy: every scalar the update needs (node count, per-iteration
    dangling mass) is a 1-row aggregate cross-joined into the plan
    (Catalyst broadcasts it), so the whole ``iters``-deep recursion is
    ONE plan with ONE action at the end: the caller's own action
    executes it exactly once, and the cached intermediates are released
    by the lazy_persist protocol at the next registered query.

    Physical shape per iteration: out-degree rides INSIDE the rank
    frame — (node, d, rank) — so the per-source contribution is a
    row-local projection; the only per-iteration exchange is the
    groupBy(dst) of (dst, c) pairs. ``partitions`` defaults to the
    session's parallelism.

    ``symmetric=True`` asserts every edge's reverse is also present (the
    caller built an undirected/bidirectional edge list). Then every node
    occurs as a src and none is dangling, so the node spine IS the
    co-partitioned out-degree aggregate — the union-distinct over both
    endpoint columns and the left join attaching degrees (two exchanges
    plus their broadcast futures) disappear. Rank values are identical:
    same node set, same degrees, same per-dst sums; the dangling term is
    computed from the same contribs aggregate either way."""
    if partitions is None:
        partitions = default_parallelism(edges.sparkSession)
    # ONE shuffle for edge prep: after repartition on src, every (src,
    # dst) duplicate is already co-located, so Catalyst satisfies the
    # dropDuplicates clustering requirement without a second exchange.
    edges = lazy_persist(
        edges.select("src", "dst")
        .repartition(partitions, "src")
        .dropDuplicates(["src", "dst"])
    )
    # node spine (node, d): d is the out-degree, NULL for a dangling node.
    # A symmetric graph has no dangling node, so its spine IS the
    # co-partitioned degree aggregate (no exchange past the edge prep).
    nd = _degrees(edges)
    if not symmetric:
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionAll(edges.select(F.col("dst").alias("node")))
            .distinct()
        )
        nd = nodes.join(nd, "node", "left")
    nd = lazy_persist(nd)
    # scalar spine: n as a broadcast 1-row frame (same IEEE double ops as
    # driver-side literals, so ranks are bit-identical); nd has exactly
    # one row per node, so counting it counts nodes
    n_df = nd.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    ranks = nd.crossJoin(F.broadcast(n_df)).select(
        "node", "d", (F.lit(1.0) / F.col("__n")).alias("rank")
    )

    for _ in range(iters):
        per_src = ranks.filter(F.col("d").isNotNull()).select(
            F.col("node").alias("src"), (F.col("rank") / F.col("d")).alias("c")
        )
        # contribs is read twice (dang_df and the rank join); ranks once
        # (the next iteration's per_src), so only contribs is persisted
        contribs = lazy_persist(
            edges.join(per_src, "src")
            .select("dst", "c")
            .groupBy("dst")
            .agg(F.sum("c").alias("recv"))
        )
        # dangling nodes (no out-edges) leak mass; redistribute uniformly
        dang_df = contribs.agg(
            F.coalesce(F.sum("recv"), F.lit(0.0)).alias("__linked")
        )
        ranks = (
            nd.join(contribs, nd.node == contribs.dst, "left")
            .crossJoin(F.broadcast(n_df))
            .crossJoin(F.broadcast(dang_df))
            .select(
                "node",
                "d",
                (
                    (F.lit(1.0) - F.lit(damping)) / F.col("__n")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("recv"), F.lit(0.0))
                        + (F.lit(1.0) - F.col("__linked")) / F.col("__n")
                    )
                ).alias("rank"),
            )
        )
    return ranks.select("node", "rank")


def _pagerank_oracle_sql(iters: int, damping: float = 0.85) -> str:
    """The fixed-iteration PageRank as the harness's unrolled CTEs over
    its adjacency and degrees. Float literals are forced ::DOUBLE so
    DuckDB doesn't route them through DECIMAL arithmetic — the engine
    computes (1.0 - 0.85) in IEEE double, and the oracle must hit the
    same bits."""
    prelude = f"""
    edges AS (
      SELECT DISTINCT 's' || l_suppkey AS u, 'p' || l_partkey AS v
      FROM lineitem
    ),{UND_CTE},{DEG_CTE},
    params AS (SELECT count(*)::DOUBLE AS n FROM deg),
    r0 AS (SELECT node, 1.0::DOUBLE / (SELECT n FROM params) AS rank FROM deg)"""
    step = f"""
    c{{r1}} AS (
      SELECT e.dst, SUM(r.rank / d.d) AS recv
      FROM und e JOIN deg d ON e.src = d.node JOIN r{{r}} r ON e.src = r.node
      GROUP BY e.dst
    ),
    dang{{r1}} AS (
      SELECT (1.0::DOUBLE - SUM(recv)) / (SELECT n FROM params) AS dang FROM c{{r1}}
    ),
    r{{r1}} AS (
      SELECT n.node,
             (1.0::DOUBLE - {damping}::DOUBLE) / (SELECT n FROM params)
             + {damping}::DOUBLE * (COALESCE(c.recv, 0.0::DOUBLE) + (SELECT dang FROM dang{{r1}}))
               AS rank
      FROM deg n LEFT JOIN c{{r1}} c ON n.node = c.dst
    )"""
    return (
        f"WITH{unrolled_ctes(prelude, step, iters)}"
        f"\n    SELECT node, ROUND(rank, 9) AS rank FROM r{iters}"
    )


@query("pagerank_supplier_part", oracle=_pagerank_oracle_sql(iters=3))
def pagerank_supplier_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite supplier->part graph from lineitem
    (distinct (l_suppkey, l_partkey) edges, reversed edges added so the
    chain is ergodic), ranks rounded for cross-run stability.

    The iteration runs on INTEGER node ids (supplier k -> 2k, part k ->
    2k+1); the display names ('s<k>'/'p<k>') are built only on the final
    node-sized result. Every edge-table shuffle (dedup, co-partition,
    per-dst sums) then hashes/compares 8-byte longs instead of strings,
    a shuffle-volume cut that grows with |edges|. Rank VALUES are the
    same as with string ids: the arithmetic depends only on graph
    structure, not id encoding."""
    li = load_tables(spark, sf_dir)["lineitem"]
    edges = _both_orientations(
        li.select(
            (F.col("l_suppkey") * 2).alias("u"),
            (F.col("l_partkey") * 2 + 1).alias("v"),
        )
    )
    # symmetric=True: both orientations of every pair are emitted above,
    # so the rank loop skips the node-spine union/join (see pagerank)
    ranks = pagerank(edges, iters=3, symmetric=True)
    return ranks.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("s"), (F.col("node") / 2).cast("long")),
        )
        .otherwise(F.concat(F.lit("p"), ((F.col("node") - 1) / 2).cast("long")))
        .alias("node"),
        F.round(F.col("rank"), 9).alias("rank"),
    )
