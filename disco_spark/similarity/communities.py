"""Community detection on the part co-order graph via synchronous
label propagation (LPA, Raghavan et al. 2007) — the fourth classic
distributed graph kernel here, after PageRank (similarity/pagerank.py),
connected components (dedup/cc.py), and triangles/k-core
(similarity/triangles.py). Reference analog: none (the reference ships
PageRank as its iterative-graph example job; LPA is the canonical
next kernel — near-linear community discovery with no modularity
objective to optimize).

Determinism: textbook LPA breaks frequency ties randomly and updates
asynchronously — both are non-starters for a cross-engine oracle. This
implementation is the standard deterministic variant: SYNCHRONOUS
rounds (every node updates from the round-r labels simultaneously),
ties broken by SMALLEST label, and each node's OWN current label
included in its vote (a self-loop). The self-vote is load-bearing:
pure sync LPA oscillates on dense graphs (measured on this co-order
graph: ~1.7k of 2.5k nodes still flipping at round 12), while the
self-preferenced variant reaches its exact fixpoint in 6 rounds —
the standard damping for synchronous schedules. Every step is integer
arithmetic on exact neighbor-label counts, so Spark and DuckDB replay
the same trajectory bit-for-bit.

Graph: the co-order edge set of the triangles.py harness, oriented
both ways by its ``_both_orientations``; the oracle is the harness's
``unrolled_ctes`` over its ``UND_CTE``, one CTE pair per round.

Scale story: one round = one hash join (adjacency x labels; the
adjacency co-partitioned on src once, reused every round) + one
grouped deterministic mode() over that node's few candidate labels —
O(rounds) keyed shuffles of the LABEL frame, no driver state, no
fixpoint iteration (LPA_ROUNDS bounds the plan; the test suite asserts
the label assignment has CONVERGED on this graph by the registered
round count, so the answer is the true sync-LPA fixpoint there).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from disco_spark.registry import query
from disco_spark.session import default_parallelism, lazy_persist, load_tables
from disco_spark.similarity.triangles import (
    EDGES_CTES,
    UND_CTE,
    _both_orientations,
    coorder_edges,
    unrolled_ctes,
)

LPA_ROUNDS = 6

# labels{r+1}(v) = the most frequent label among v's neighbours AND v
# itself (the self-loop rows of adj), ties to the smallest label
_LPA_ROUND = """
    votes{r} AS (
      SELECT e.dst AS node, l.label, COUNT(*) AS c
      FROM adj e JOIN labels{r} l ON l.node = e.src
      GROUP BY 1, 2
    ),
    labels{r1} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (
                 PARTITION BY node ORDER BY c DESC, label ASC
               ) AS rk
        FROM votes{r}
      ) WHERE rk = 1
    )"""

_LPA_PRELUDE = f"""{UND_CTE},
    adj AS (
      SELECT src, dst FROM und
      UNION ALL SELECT DISTINCT src, src FROM und
    ),
    labels0 AS (SELECT DISTINCT src AS node, src AS label FROM und)"""


def label_propagation(edges: DataFrame, rounds: int = LPA_ROUNDS) -> DataFrame:
    """(node, label) after `rounds` synchronous self-vote LPA rounds
    over an undirected edge list (u, v) — the engine plan behind
    graph_label_propagation, exposed for planted-community tests.

    Physical shape per round: ONE exchange of the node-sized labels
    frame (the adjacency is co-partitioned on src once, up front, and
    reused by every round's join) + ONE grouped mode() aggregation by
    node: mode(label, deterministic=true) — most frequent, ties to the
    SMALLEST value — is the vote rule as one aggregate, with map-side
    partial aggregation of the per-node label histogram."""
    # input self-loops are IGNORED (filtered before orientation): every
    # node already casts exactly one self-vote via the appended loop row
    # below. Without the filter, a caller-supplied (u, u) edge would emit
    # twice from _both_orientations and land NEXT TO the appended loop —
    # three duplicate labels0 rows and triple self-vote weight, diverging
    # from the oracle's DISTINCT labels0 (in-repo callers emit u < v
    # edges, but label_propagation is an exported API).
    und = _both_orientations(edges.filter(F.col("u") != F.col("v")))
    nodes = und.select(F.col("src").alias("node")).distinct()
    # the adjacency plus one self-loop per node (the oracle's adj), read
    # by labels0 and by every round: cached once, co-partitioned on src
    adj = lazy_persist(
        und.unionAll(
            nodes.select(
                F.col("node").alias("src"), F.col("node").alias("dst")
            )
        ).repartition(default_parallelism(edges.sparkSession), "src")
    )
    # labels0 from the self-loop rows (every node has exactly one)
    labels = adj.filter(F.col("src") == F.col("dst")).select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    for _ in range(rounds):
        labels = (
            adj.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.mode("label", True).alias("label"))
        )
    return labels


@query(
    "graph_label_propagation",
    oracle=f"""
    WITH {EDGES_CTES},{unrolled_ctes(_LPA_PRELUDE, _LPA_ROUND, LPA_ROUNDS)}
    SELECT label AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(node) AS BIGINT) AS min_node,
           CAST(MAX(node) AS BIGINT) AS max_node
    FROM labels{LPA_ROUNDS}
    GROUP BY 1 ORDER BY n_members DESC, community ASC
    """,
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Communities of the co-order part graph after {LPA_ROUNDS}
    synchronous label-propagation rounds: one row per surviving label
    with its member count and node-id span, largest communities first.

    The per-node deterministic mode() aggregates that node's handful
    of candidate labels (bounded by its degree), never the whole
    graph; everything else is keyed joins and grouped integer counts.
    Convergence at the registered round count is pytest-asserted, so
    this is the sync-LPA fixpoint of this graph, not a truncation."""
    li = load_tables(spark, sf_dir)["lineitem"]
    labels = label_propagation(coorder_edges(li))
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("node").cast("bigint").alias("min_node"),
            F.max("node").cast("bigint").alias("max_node"),
        )
        .orderBy(F.col("n_members").desc(), F.col("community").asc())
    )
