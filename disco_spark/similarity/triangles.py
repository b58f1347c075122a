"""Triangle counting over the part co-order graph — the third classic
distributed graph kernel alongside PageRank (similarity/pagerank.py)
and connected components (dedup/cc.py). Reference analog: none (the
reference ships PageRank and k-means as example jobs; triangle counting
is the canonical next kernel — clustering-coefficient / community-
density audits).

Graph: parts are nodes; an edge connects two parts CO-ORDERED AT LEAST
``MIN_COORDERS`` times (distinct (l_orderkey, l_partkey) pairs from
lineitem, self-joined per order, pair-counted). The strength threshold
is what makes the graph a signal: single co-occurrence in a basket is
noise, repetition is structure (and it keeps the edge set sparse — the
supplier co-supply projection of uniform TPC-H data is a COMPLETE
graph, measured C(1000,2) edges at sf0.1, where triangle counting
degenerates into n^3 work about nothing). Hub orders (more than
``MAX_ORDER_PARTS`` distinct parts) are dropped before pair generation
— the same frequency-cap guard every pair generator in this repo uses
(LSH bands, exact spans), per Suri & Vassilvitskii, "Counting Triangles
and the Curse of the Last Reducer".

Scale story: the compact-forward counting scheme — orient every edge
u < v, join edges-with-edges on the shared middle vertex, then verify
the closing edge with a third join. Each triangle {u < v < w} is
counted exactly once as (u,v) + (v,w) + (u,w). Three hash joins on
vertex keys, no per-node adjacency materialization, no driver state;
per-node counts are one explode + groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from disco_spark.registry import query
from disco_spark.session import load_tables

MAX_ORDER_PARTS = 50
MIN_COORDERS = 2


# shared DuckDB CTE chain op -> capped -> edges (and tris on top) — both
# graph oracles compose from this single source so the graph definition
# (cap, strength threshold, orientation) cannot drift between them
EDGES_CTES = f"""
    op AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    capped AS (
      SELECT o, p FROM (
        SELECT o, p, COUNT(*) OVER (PARTITION BY o) AS d FROM op
      ) WHERE d <= {MAX_ORDER_PARTS}
    ),
    edges AS (
      SELECT u, v FROM (
        SELECT a.p AS u, b.p AS v, COUNT(*) AS strength
        FROM capped a JOIN capped b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2
      ) WHERE strength >= {MIN_COORDERS}
    )"""

TRIS_CTE = """
    tris AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    )"""


def capped_order_sets(
    lineitem: DataFrame, cap: int = MAX_ORDER_PARTS
) -> DataFrame:
    """(o, ps) with ps = the SORTED distinct part set of order o, hub
    orders (> cap distinct parts) dropped — the ONE aggregation the
    graph's base projection needs. One groupBy(o) exchange replaces the
    previous distinct-(o,p) exchange PLUS count-over-o window exchange
    + sort (guide §2.4: two shuffles keyed compatibly share one):
    collect_set dedups parts per order AND yields the hub degree as
    size(ps) in the same pass. The transient set for a hub order is
    collected before the cap filter drops it, bounded by the order's
    distinct-part count — basket-shaped by construction (the cap
    contract documents hubs as rare), and ObjectHashAggregate falls
    back to sort-based aggregation under pressure."""
    return (
        lineitem.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .groupBy("o")
        .agg(F.sort_array(F.collect_set("p")).alias("ps"))
        .filter(F.size("ps") <= cap)
    )


def coorder_strengths_from_sets(
    sets: DataFrame, min_strength: int = MIN_COORDERS
) -> DataFrame:
    """(u, v, strength) with u < v from a capped_order_sets frame: each
    order's C(k,2) ordered pairs are generated IN-ROW from the sorted
    part set (nested array transform over suffix slices — no self-join,
    guide §3.3: the previous shape joined the exploded projection with
    itself on o, re-shuffling both branches and recomputing the
    upstream twice), then one groupBy(u, v) counts co-orders. k <= cap
    bounds the per-row expansion exactly as it bounded the join."""
    pair_structs = F.expr(
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS u, y AS v))))"
    )
    # Round-robin spread BEFORE the C(k,2) expansion (the
    # spread_verify_pairs pattern): the sets rows are bytes-TINY but
    # each expands k²/2-fold and pays the groupBy(u,v) partial
    # aggregation, so AQE's byte-based coalescing packs the whole
    # expansion onto a handful of tasks (measured 4 tasks x ~0.4 s at
    # sf0.1 while 28 cores idled). AQE never coalesces a user
    # repartition; the extra exchange moves only the |orders|-bounded
    # array rows — always the small side of the expansion.
    from disco_spark.session import default_parallelism

    return (
        sets.repartition(default_parallelism(sets.sparkSession))
        .select(F.explode(pair_structs).alias("e"))
        .select("e.u", "e.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("strength"))
        .filter(F.col("strength") >= min_strength)
    )


def coorder_strengths(
    capped: DataFrame, min_strength: int = MIN_COORDERS
) -> DataFrame:
    """(u, v, strength) with u < v: part pairs co-ordered >=
    min_strength times in a capped (o, p) projection. Kept for callers
    holding the exploded shape; the sets path
    (coorder_strengths_from_sets) avoids the self-join when the caller
    starts from lineitem."""
    a = capped.select("o", F.col("p").alias("u"))
    b = capped.select("o", F.col("p").alias("v"))
    return (
        a.join(b, "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("strength"))
        .filter(F.col("strength") >= min_strength)
    )


def coorder_edges(
    lineitem: DataFrame,
    cap: int = MAX_ORDER_PARTS,
    min_strength: int = MIN_COORDERS,
) -> DataFrame:
    """(u, v) with u < v: part pairs co-ordered >= min_strength times.

    Physical shape (guide §2.4): lineitem scan → ONE groupBy(o)
    exchange (set-collect) → in-row pair generation → ONE groupBy(u, v)
    exchange. The previous shape (distinct + hub window + self-join on
    o) paid ~5 exchanges and computed the capped projection twice."""
    return coorder_strengths_from_sets(
        capped_order_sets(lineitem, cap), min_strength
    ).select("u", "v")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """(node, n_triangles) for every node in >= 1 triangle; edges must
    be oriented u < v and distinct."""
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = e1.join(e2, "b")  # a < b < c by construction
    tris = wedges.join(e3, ["a", "c"])
    nodes = tris.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles"))


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {EDGES_CTES},{TRIS_CTE},
    nodes AS (
      SELECT a AS node FROM tris
      UNION ALL SELECT b FROM tris
      UNION ALL SELECT c FROM tris
    )
    SELECT node, COUNT(*) AS n_triangles FROM nodes GROUP BY node
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from disco_spark.session import lazy_persist

    t = load_tables(spark, sf_dir)
    # the edge list feeds three self-join references; persist it once
    # (released at the next registered query, like every deferred persist)
    return triangle_counts(lazy_persist(coorder_edges(t["lineitem"])))


@query(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {EDGES_CTES},{TRIS_CTE},
    tcount AS (
      SELECT node, COUNT(*) AS n_triangles FROM (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
      ) GROUP BY node
    ),
    degree AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
      ) GROUP BY node
    )
    SELECT d.node, d.deg, COALESCE(t.n_triangles, 0) AS n_triangles,
           ROUND(CAST(2.0 * COALESCE(t.n_triangles, 0) AS DOUBLE)
                 / (d.deg * (d.deg - 1)), 6) AS clustering_coeff
    FROM degree d LEFT JOIN tcount t USING (node)
    WHERE d.deg >= 2
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node: 2*triangles / (deg*(deg-1))
    for nodes with degree >= 2 — the community-density audit the
    triangle kernel exists to feed. Degrees from one explode+groupBy of
    the edge list; triangles from triangle_counts; one left join."""
    from disco_spark.session import lazy_persist

    t = load_tables(spark, sf_dir)
    # five references to the edge plan (3 in the triangle join, 2 in the
    # degree union): one persisted materialization serves all
    edges = lazy_persist(coorder_edges(t["lineitem"]))
    tri = triangle_counts(edges)
    degree = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") >= 2)
    )
    return degree.join(tri, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        F.round(
            (2.0 * F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double"))
            / (F.col("deg") * (F.col("deg") - 1)),
            6,
        ).alias("clustering_coeff"),
    )


# ---------------------------------------------------------------------------
# Market-basket association strength: lift over the same co-order pair
# construction. lift(a,b) = P(a,b) / (P(a) P(b)) over capped orders —
# > 1 means the parts co-occur more than independence predicts. The
# classic association-mining statistic, computed on the pair set the
# triangle kernels already bound (cap + strength floor keep it sparse).
# ---------------------------------------------------------------------------
@query(
    "market_basket_lift",
    oracle=f"""
    WITH {EDGES_CTES},
    strengths AS (
      SELECT a.p AS u, b.p AS v, COUNT(*) AS strength
      FROM capped a JOIN capped b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2
    ),
    kept AS (
      SELECT * FROM strengths WHERE strength >= {MIN_COORDERS}
    ),
    icnt AS (SELECT p, COUNT(*) AS c FROM capped GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT o) AS n_orders FROM capped)
    SELECT k.u, k.v, k.strength,
           ROUND(CAST(k.strength AS DOUBLE) * n.n_orders
                 / (cu.c * CAST(cv.c AS DOUBLE)), 6) AS lift
    FROM kept k
    JOIN icnt cu ON cu.p = k.u
    JOIN icnt cv ON cv.p = k.v
    CROSS JOIN n
    """,
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, strength, lift) for every co-order edge. Lift derives
    from three aggregates of the SAME capped (order, part) projection
    the edges use — per-item counts join back on the part key (hash
    joins on dimension-sized tables), the order total rides in as a
    broadcast 1-row aggregate. Integer counts ratio'd in double =
    engine-deterministic at 6 decimals."""
    from disco_spark.session import lazy_persist

    li = load_tables(spark, sf_dir)["lineitem"]
    # one persisted set-collect serves pair generation, item counts and
    # the order total: the previous shape persisted the exploded (o, p)
    # projection and self-joined it on o (guide §2.4/§3.3 — the
    # coorder_edges rewrite, shared here)
    sets = lazy_persist(capped_order_sets(li))
    kept = coorder_strengths_from_sets(sets)
    capped = sets.select("o", F.explode("ps").alias("p"))
    icnt = capped.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
    # sets holds one row per surviving order, so COUNT(*) == the
    # previous countDistinct(o) — same value, no distinct aggregation
    n = F.broadcast(sets.agg(F.count(F.lit(1)).alias("n_orders")))
    cu = icnt.select(F.col("p").alias("u"), F.col("c").alias("cu"))
    cv = icnt.select(F.col("p").alias("v"), F.col("c").alias("cv"))
    return (
        kept.join(cu, "u")
        .join(cv, "v")
        .crossJoin(n)
        .select(
            "u", "v", "strength",
            F.round(
                F.col("strength").cast("double")
                * F.col("n_orders")
                / (F.col("cu") * F.col("cv").cast("double")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "graph_degree_distribution",
    # exact degree histogram of the co-order graph: (degree, n_nodes)
    # over the same capped/thresholded edge set as the triangle kernel
    oracle=f"""
    WITH {EDGES_CTES},
    deg AS (
      SELECT node, COUNT(*) AS degree FROM (
        SELECT u AS node FROM edges
        UNION ALL
        SELECT v AS node FROM edges
      ) GROUP BY node
    )
    SELECT degree, COUNT(*) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part co-order graph — the first
    thing anyone plots before running graph kernels (hub spotting,
    power-law eyeballing, join-skew forecasting for the triangle
    pass). Pure integers: per-node degree from one union+groupBy over
    the shared edge set, folded to (degree, n_nodes).

    Scale: two aggregates whose shuffles carry (node) then (degree)
    keys; the edge set is already hub-capped and
    strength-thresholded (EDGES_CTES), so no degree can exceed what
    the triangle kernel itself would see."""
    li = load_tables(spark, sf_dir)["lineitem"]
    # endpoint stream emitted in-row (explode) — the two-arm unionAll
    # embedded and executed the edge-builder subtree twice
    nodes = coorder_edges(li).select(
        F.explode(F.array("u", "v")).alias("node")
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


# ---------------------------------------------------------------------------
# Link prediction + degree mixing on the same shared co-order graph:
# resource-allocation scores for non-adjacent pairs, and the degree
# assortativity coefficient. Both compose from EDGES_CTES so the graph
# definition cannot drift from the triangle/clustering kernels.
# ---------------------------------------------------------------------------
RA_TOPK = 25

# shared undirected adjacency + exact integer degrees on top of edges
_UND_DEG_CTES = """
    und AS (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL SELECT v, u FROM edges
    ),
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM und GROUP BY 1
    )"""


def _both_orientations(edges: DataFrame) -> DataFrame:
    """(src, dst) with BOTH orientations of every (u, v) edge, emitted
    IN-ROW (explode of a 2-element struct array) instead of a
    two-arm unionAll. The union shape embeds the edge-builder subtree
    twice, and measured on kcore the arms really execute twice
    (~10-12 core-s each at sf0.1) — exchange reuse does not collapse
    them under the persisted-union materialization. One explode, one
    subtree (guide §2.4)."""
    both = F.array(
        F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
        F.struct(F.col("v").alias("src"), F.col("u").alias("dst")),
    )
    return edges.select(F.explode(both).alias("_e")).select(
        "_e.src", "_e.dst"
    )


def _und_deg(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(undirected adjacency (src, dst), per-node degrees (node, d)) —
    the Spark mirror of _UND_DEG_CTES."""
    und = _both_orientations(edges)
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    return und, deg


@query(
    "graph_ra_link_prediction",
    oracle=f"""
    WITH {EDGES_CTES},{_UND_DEG_CTES},
    wedge AS (
      SELECT w1.dst AS a, w2.dst AS b, w1.src AS z
      FROM und w1 JOIN und w2 ON w1.src = w2.src AND w1.dst < w2.dst
    ),
    cand AS (
      SELECT w.a, w.b,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             SUM(CAST(ROUND(1.0 / deg.d, 12) AS DECIMAL(28,12)))
               AS ra_raw
      FROM wedge w JOIN deg ON deg.node = w.z
      GROUP BY 1, 2
    ),
    nonadj AS (
      SELECT c.* FROM cand c
      LEFT JOIN edges e ON e.u = c.a AND e.v = c.b
      WHERE e.u IS NULL
    )
    SELECT a, b, n_common, CAST(ra_raw AS DOUBLE) AS ra_score
    FROM nonadj
    ORDER BY ra_score DESC, a, b
    LIMIT {RA_TOPK}
    """,
)
def graph_ra_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{RA_TOPK} predicted links by the resource-allocation index
    (Zhou-Lu-Zhang 2009): for each NON-adjacent pair sharing at least
    one neighbor, RA = sum over common neighbors z of 1/deg(z) —
    Adamic-Adar's exactly-computable sibling ("which parts will be
    co-ordered next"). Each 1/d term is one IEEE double division
    rounded to 12 dp, then accumulated in DECIMAL — exact and
    order-independent, so both engines produce identical scores and
    identical ranking (ties broken on (a, b)).

    Scale: wedge generation is the same middle-vertex join the
    triangle kernel uses, on the same hub-capped strength-thresholded
    edge set (sum of deg^2 bounded by the caps); candidate scoring is
    one groupBy on the pair key; the anti-join removes existing edges
    before the bounded top-k."""
    from disco_spark.session import lazy_persist

    li = load_tables(spark, sf_dir)["lineitem"]
    e = lazy_persist(coorder_edges(li))
    und, deg = _und_deg(e)
    w1 = und.select(F.col("src").alias("z"), F.col("dst").alias("a"))
    w2 = und.select(F.col("src").alias("z"), F.col("dst").alias("b"))
    wedges = w1.join(w2, "z").filter(F.col("a") < F.col("b"))
    term = F.round(F.lit(1.0) / F.col("d"), 12).cast("decimal(28,12)")
    cand = (
        wedges.join(deg, F.col("node") == F.col("z"))
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(term).alias("ra_raw"),
        )
    )
    nonadj = cand.join(
        e,
        (F.col("u") == F.col("a")) & (F.col("v") == F.col("b")),
        "left_anti",
    )
    return (
        nonadj.select(
            "a",
            "b",
            "n_common",
            F.col("ra_raw").cast("double").alias("ra_score"),
        )
        .orderBy(F.desc("ra_score"), "a", "b")
        .limit(RA_TOPK)
    )


@query(
    "graph_assortativity_degree",
    oracle=f"""
    WITH {EDGES_CTES},{_UND_DEG_CTES},
    pairs AS (
      SELECT d1.d AS du, d2.d AS dv
      FROM und
      JOIN deg d1 ON d1.node = und.src
      JOIN deg d2 ON d2.node = und.dst
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             SUM(CAST(du AS DECIMAL(38,0))) AS sx,
             SUM(CAST(du * du AS DECIMAL(38,0))) AS sxx,
             SUM(CAST(du * dv AS DECIMAL(38,0))) AS sxy
      FROM pairs
    ),
    ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
    SELECT nn.n_nodes AS n_nodes, ne.n_edges AS n_edges,
           CASE WHEN (CAST(sxx AS DOUBLE) / m
                      - (CAST(sx AS DOUBLE) / m)
                        * (CAST(sx AS DOUBLE) / m)) > 0
                THEN ROUND((CAST(sxy AS DOUBLE) / m
                            - (CAST(sx AS DOUBLE) / m)
                              * (CAST(sx AS DOUBLE) / m))
                           / (CAST(sxx AS DOUBLE) / m
                              - (CAST(sx AS DOUBLE) / m)
                                * (CAST(sx AS DOUBLE) / m)), 6)
           END AS assortativity
    FROM s, ne, nn
    """,
)
def graph_assortativity_degree(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees over the directed expansion of the co-order
    graph's edges — do hub parts co-order with other hubs (r > 0) or
    with the periphery (r < 0)? Both endpoint sums collapse to one
    (the expansion is symmetric), so four exact integer moments decide
    the coefficient; the only doubles are the final scalar divisions,
    written identically in both engines. A regular graph has zero
    degree variance -> NULL (CASE-guarded; Spark ANSI would throw).

    Scale: degrees from one groupBy over the adjacency, two hash
    joins to attach endpoint degrees, one constant-size moment
    aggregate. Nothing wider than the edge list ever shuffles."""
    from disco_spark.session import lazy_persist

    li = load_tables(spark, sf_dir)["lineitem"]
    e = lazy_persist(coorder_edges(li))
    und, deg = _und_deg(e)
    d1 = deg.select(F.col("node").alias("_n1"), F.col("d").alias("du"))
    d2 = deg.select(F.col("node").alias("_n2"), F.col("d").alias("dv"))
    pairs = und.join(d1, F.col("_n1") == F.col("src")).join(
        d2, F.col("_n2") == F.col("dst")
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(F.col("du").cast("decimal(38,0)")).alias("sx"),
        F.sum((F.col("du") * F.col("du")).cast("decimal(38,0)")).alias(
            "sxx"
        ),
        F.sum((F.col("du") * F.col("dv")).cast("decimal(38,0)")).alias(
            "sxy"
        ),
    )
    ne = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    nn = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    mean = F.col("sx").cast("double") / F.col("m")
    num = F.col("sxy").cast("double") / F.col("m") - mean * mean
    den = F.col("sxx").cast("double") / F.col("m") - mean * mean
    return s.crossJoin(ne).crossJoin(nn).select(
        "n_nodes",
        "n_edges",
        F.when(den > 0, F.round(num / den, 6)).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# k-core peeling (k=2, bounded rounds) — the degeneracy-ordering
# kernel behind community cores and graph sparsification: repeatedly
# drop nodes with degree < k until the survivor set stabilizes. Fixed
# KCORE_ROUNDS unrolled rounds keep the plan static and the oracle an
# exact CTE replay (the kmeans unrolled-Lloyd convention); the test
# suite asserts the peel has CONVERGED on this graph by round 3, so
# the registered result IS the true 2-core there.
# ---------------------------------------------------------------------------
KCORE_K = 2
KCORE_ROUNDS = 3


def _kcore_cte_chain() -> str:
    parts = [
        """
    und0 AS (
      SELECT u AS src, v AS dst FROM edges
      UNION ALL SELECT v, u FROM edges
    )"""
    ]
    for r in range(KCORE_ROUNDS):
        parts.append(f"""
    deg{r} AS (SELECT src, COUNT(*) AS d FROM und{r} GROUP BY 1),
    keep{r} AS (SELECT src AS node FROM deg{r} WHERE d >= {KCORE_K}),
    und{r + 1} AS (
      SELECT e.src, e.dst FROM und{r} e
      JOIN keep{r} a ON a.node = e.src
      JOIN keep{r} b ON b.node = e.dst
    )""")
    return ",".join(parts)


@query(
    "graph_kcore_membership",
    oracle=f"""
    WITH {EDGES_CTES},{_kcore_cte_chain()}
    SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM und{KCORE_ROUNDS} GROUP BY 1 ORDER BY node
    """,
)
def graph_kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{KCORE_K}-core of the co-order graph after {KCORE_ROUNDS}
    peeling rounds: surviving nodes with their in-core degree. Each
    round is one grouped degree count + two semi-join-shaped filters
    on the adjacency — O(rounds) keyed shuffles over a monotonically
    shrinking edge set, no driver state, no iteration-to-fixpoint
    (bounded rounds keep the oracle replayable; convergence on this
    graph is pytest-asserted, and a larger deployment raises
    KCORE_ROUNDS or re-runs until a round removes nothing)."""
    from disco_spark.session import lazy_persist

    li = load_tables(spark, sf_dir)["lineitem"]
    # in-row orientation doubling: the old two-arm unionAll executed
    # the pair-generation subtree twice (measured A/B: median 3.90 ->
    # 3.22 s, cold rep 9.2 -> 3.8 s at sf0.1)
    und = _both_orientations(coorder_edges(li))
    for _ in range(KCORE_ROUNDS):
        und = lazy_persist(und)
        keep = (
            und.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= KCORE_K)
            .select(F.col("src").alias("node"))
        )
        ka = keep.select(F.col("node").alias("_ka"))
        kb = keep.select(F.col("node").alias("_kb"))
        und = (
            und.join(ka, F.col("_ka") == F.col("src"))
            .join(kb, F.col("_kb") == F.col("dst"))
            .select("src", "dst")
        )
    return (
        und.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# Local bridges: edges that close NO triangle (zero common neighbors)
# — the connectivity-risk read on the co-order graph: such an edge is
# the only local path between its endpoints, so its disappearance
# (a delisted part, a dropped supplier link) lengthens every route
# through it. The exact complement of the triangle kernel, from the
# same shared edge harness.
# ---------------------------------------------------------------------------
@query(
    "graph_local_bridges",
    oracle=f"""
    WITH {EDGES_CTES},{_UND_DEG_CTES},
    closed AS (
      SELECT DISTINCT w1.dst AS a, w2.dst AS b
      FROM und w1 JOIN und w2 ON w1.src = w2.src AND w1.dst < w2.dst
    ),
    bridges AS (
      SELECT e.u, e.v FROM edges e
      LEFT JOIN closed c ON c.a = e.u AND c.b = e.v
      WHERE c.a IS NULL
    )
    SELECT b.u, b.v, du.d AS deg_u, dv.d AS deg_v
    FROM bridges b
    JOIN deg du ON du.node = b.u
    JOIN deg dv ON dv.node = b.v
    ORDER BY b.u, b.v
    """,
)
def graph_local_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges with zero common neighbors (local bridges, span > 2),
    with both endpoint degrees: the exact set of co-order links whose
    loss locally disconnects their endpoints. Pure set algebra on the
    shared harness — wedge-closed pairs (the triangle kernel's
    middle-vertex join) anti-joined against the edge list.

    Plan: one wedge join bounded by the hub-capped degree profile,
    one anti join, two degree lookups. Same scalability posture as
    graph_triangle_count."""
    from disco_spark.session import lazy_persist

    li = load_tables(spark, sf_dir)["lineitem"]
    e = lazy_persist(coorder_edges(li))
    und, deg = _und_deg(e)
    w1 = und.select(F.col("src").alias("z"), F.col("dst").alias("a"))
    w2 = und.select(F.col("src").alias("z"), F.col("dst").alias("b"))
    closed = (
        w1.join(w2, "z")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    bridges = e.join(
        closed,
        (F.col("a") == F.col("u")) & (F.col("b") == F.col("v")),
        "left_anti",
    )
    du = deg.select(F.col("node").alias("_nu"), F.col("d").alias("deg_u"))
    dv = deg.select(F.col("node").alias("_nv"), F.col("d").alias("deg_v"))
    return (
        bridges.join(du, F.col("_nu") == F.col("u"))
        .join(dv, F.col("_nv") == F.col("v"))
        .select("u", "v", "deg_u", "deg_v")
        .orderBy("u", "v")
    )
