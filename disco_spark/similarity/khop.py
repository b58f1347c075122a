"""k-hop BFS reachability over the part co-order graph — the fourth
distributed graph kernel (PageRank: similarity/pagerank.py, connected
components: dedup/cc.py, triangles: similarity/triangles.py). The
standing question it answers in a curation pipeline: "everything
within k association hops of this item/document" — recall expansion,
contamination blast-radius, recommendation neighborhoods.

Graph: the co-order edge set of the triangles.py harness, read through
its persisted edge list and oriented both ways by its
``_both_orientations``; the oracle reads the harness's ``UND_CTE``.
Seed: the smallest part key present in the edge set (deterministic,
data-derived, no literal baked in). K = 3 hops.

Scale story: textbook frontier BFS, NOT path enumeration — each hop is
one hash join of the current frontier against the symmetric edge
list, followed by a LEFT ANTI join against the visited set, so the
frontier holds each node at most once and the total work is O(K *
frontier-adjacent edges). Each hop's frontier is persisted: it feeds
both the next expansion and the visited set, and without the cache the
plan of hop k re-plans every hop before it. No driver state beyond the
loop counter: the seed is a 1-row aggregate cross-joined in, never
collected. The DuckDB oracle replays the same search with a recursive
CTE (UNION-dedup keeps its state space to nodes x hops, the same
no-path-explosion guarantee).

Reference analog: none (the reference ships PageRank as its graph
example; BFS is the canonical companion kernel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark.registry import query
from disco_spark.session import lazy_persist
from disco_spark.similarity.triangles import (
    EDGES_CTES,
    UND_CTE,
    _both_orientations,
    _shared_edges,
)

K_HOPS = 3


def khop_reachability(edges: DataFrame, k: int = K_HOPS) -> DataFrame:
    """(node, hops) with hops = BFS distance (<= k) from the smallest
    node in `edges`; edges oriented u < v, distinct."""
    und = _both_orientations(edges)
    # 1-row seed joined in lazily; broadcast keeps hop-0 shuffle-free
    seed = F.broadcast(edges.agg(F.min("u").alias("node")))
    visited = seed.withColumn("hops", F.lit(0))
    frontier = visited
    for hop in range(1, k + 1):
        neighbors = (
            und.join(frontier.select(F.col("node").alias("src")), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        frontier = lazy_persist(
            neighbors.join(visited, "node", "left_anti").withColumn(
                "hops", F.lit(hop)
            )
        )
        visited = visited.unionAll(frontier)
    return visited


@query(
    "graph_khop_reachability",
    oracle=f"""
    WITH RECURSIVE {EDGES_CTES},{UND_CTE},
    reach(node, hops) AS (
      SELECT MIN(u), 0 FROM edges
      UNION
      SELECT s.dst, r.hops + 1
      FROM reach r JOIN und s ON s.src = r.node
      WHERE r.hops < {K_HOPS}
    )
    SELECT node, CAST(MIN(hops) AS INT) AS hops
    FROM reach GROUP BY node
    """,
)
def graph_khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, hops): every part within K_HOPS co-order hops of the
    smallest part in the edge set, with its BFS distance."""
    out = khop_reachability(_shared_edges(spark, sf_dir), K_HOPS)
    return out.select("node", F.col("hops").cast("int").alias("hops"))
