"""Similarity search over embedding columns: exact cosine top-k as the
baseline, IVF cells that bound where a query looks, and (similarity/pq.py)
PQ codes that bound what it reads there.

Every ANN query composes three steps, each written once:
- **cell probe** (``probe_cells``): rank the coarse cells per query by
  ``ROUND(cosine(q, centroid), 6) DESC, label ASC`` against the
  broadcast centroid table and keep the first ``nprobe`` (the nprobe
  calibration keeps every rank). The cells are per-label centroids
  (``ivf_centroids``) or adaptive sqrt(n) k-means cells; at scale a cell
  is the partition key, so a probe is a partition-pruned scan.
- **ADC** (``pq.adc_shortlist``): score PQ codes against per-query
  lookup tables JVM-side and cut a shortlist.
- **exact top-k** (``exact_topk``): ``ROUND(dot / (|q|·|v|), 6) DESC,
  id ASC``, first k per query. The window ranks under AQE as a partial
  then final group limit, so shuffle traffic is O(queries * k).

The brute-force scan, IVF search, k-NN graph, IVF-PQ and PQ rerank differ
only in which pairs reach the exact top-k. The DuckDB oracles compose
the same way from ``_label_cents_sql``/``_cells_cents_sql`` (centroids),
``_cell_rank_sql`` (probe order) and ``_topk_sql`` (the top-k tail).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from disco_spark import store
from disco_spark.dedup.dedup import COS_MIN, dot, norm
from disco_spark.registry import query
from disco_spark.session import (
    default_parallelism,
    file_fingerprints,
    lazy_persist,
    load_tables,
)

N_QUERIES = 5
TOP_K = 5


# --------------------------------------------------------------------------
# the shared steps
# --------------------------------------------------------------------------
def _dbl(c: "F.Column") -> "F.Column":
    """Cast a float array to double ONCE per row. dot()/norm() cast per
    element; on a pre-cast array Catalyst drops those casts, so a row
    that meets many pairs is cast once instead of once per pair, with
    the same element-wise double values."""
    return F.transform(c, lambda x: x.cast("double"))


def _length(emb: str, nrm: str | None) -> "F.Column":
    """The norm of column ``emb``: column ``nrm`` when precomputed."""
    return norm(F.col(emb)) if nrm is None else F.col(nrm)


def probe_cells(
    rows: DataFrame,
    cents: DataFrame,
    key: str,
    nprobe: int | None = None,
    emb: str = "q_emb",
    nrm: str | None = None,
) -> DataFrame:
    """The cell probe: every row of ``rows`` ranks the broadcast
    ``cents`` (label, centroid) by ROUND(cosine(emb, centroid), 6) DESC,
    label ASC, numbered ``rn`` per ``key``; the first ``nprobe`` ranks
    are kept (every rank when None). Rounding to 6 decimals on both
    engines keeps the cell choice off sub-1e-6 arithmetic jitter; the
    label breaks rounded ties identically. ``nrm`` names a precomputed
    norm of ``emb``."""
    c_sim = dot(F.col(emb), F.col("centroid")) / (_length(emb, nrm) * norm(F.col("centroid")))
    w = Window.partitionBy(key).orderBy(F.desc("c_sim"), F.asc("label"))
    ranked = (
        rows.crossJoin(F.broadcast(cents))
        .withColumn("c_sim", F.round(c_sim, 6))
        .withColumn("rn", F.row_number().over(w))
    )
    return ranked if nprobe is None else ranked.filter(F.col("rn") <= nprobe)


def exact_topk(
    pairs: DataFrame,
    k: int,
    key: str,
    nbr: str,
    q_emb: str,
    v_emb: str,
    q_nrm: str | None = None,
    v_nrm: str | None = None,
) -> DataFrame:
    """The exact top-k: cos_sim = ROUND(dot(q, v) / (|q|·|v|), 6) over
    ``pairs``, ranked cos_sim DESC, ``nbr`` ASC per ``key``; the first
    ``k`` of each key as (key, nbr, cos_sim). ``q_nrm``/``v_nrm`` name
    norms precomputed per row, for rows that meet many pairs."""
    cos = dot(F.col(q_emb), F.col(v_emb)) / (_length(q_emb, q_nrm) * _length(v_emb, v_nrm))
    w = Window.partitionBy(key).orderBy(F.desc("cos_sim"), F.asc(nbr))
    return (
        pairs.withColumn("cos_sim", F.round(cos, 6))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(key, nbr, "cos_sim")
    )


def _cents_sql(dims: str) -> str:
    """DuckDB twin of ivf_centroids: CTE `cents` (label, centroid), the
    decimal-accumulated per-label mean of ``dims`` (label, pos, val)."""
    return f"""cents AS (
      SELECT label, list(mean_val ORDER BY pos) AS centroid FROM (
        SELECT label, pos, CAST(SUM(CAST(val AS DECIMAL(38,18))) / COUNT(*) AS DOUBLE) AS mean_val FROM {dims} GROUP BY label, pos
      ) GROUP BY label
    )"""


def _dims_sql(source: str) -> str:
    """(label, pos, val) rows of the embeddings in ``source``."""
    return f"""SELECT label, generate_subscripts(embedding, 1) AS pos,
             unnest(embedding)::DOUBLE AS val
      FROM {source}"""


def _label_cents_sql(source: str) -> str:
    """CTEs `dims` + `cents`: per-label centroids of ``source``."""
    return f"""dims AS (
      {_dims_sql(source)}
    ),
    {_cents_sql("dims")}"""


def _cell_rank_sql(cols: str, key: str, emb: str, rel: str, rank: str = "rn") -> str:
    """DuckDB twin of probe_cells: ``cols`` and every cell of ``cents``
    per row of ``rel``, numbered ``rank`` in probe order."""
    return f"""SELECT {cols}, c.label,
               ROW_NUMBER() OVER (
                 PARTITION BY {key}
                 ORDER BY ROUND(list_cosine_similarity({emb}::DOUBLE[], c.centroid), 6) DESC,
                          c.label
               ) AS {rank}
        FROM {rel} CROSS JOIN cents c"""


def _probe_sql(name: str, out_id: str, ranked: str, nprobe: int) -> str:
    """CTE ``name`` (out_id, q_emb, label): the first ``nprobe`` cells."""
    return f"""{name} AS (
      SELECT {out_id}, q_emb, label FROM (
        {ranked}
      ) WHERE rn <= {nprobe}
    )"""


def _topk_sql(key: str, nbr: str, scored: str, k: int, cols: str | None = None) -> str:
    """DuckDB twin of exact_topk's cut over ``scored`` (.., cos_sim)."""
    return f"""SELECT {cols or f"{key}, {nbr}, cos_sim"} FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY {key}
                                   ORDER BY cos_sim DESC, {nbr}) AS rn
      FROM {scored}
    ) WHERE rn <= {k}"""


# --------------------------------------------------------------------------
# brute force: the exactness baseline
# --------------------------------------------------------------------------
def brute_force_topk(e: DataFrame, n_queries: int, k: int = TOP_K) -> DataFrame:
    """(query_id, neighbor_id, cos_sim): exact top-k cosine neighbors of
    the ``n_queries`` lowest vec_ids over the whole table. The probe set
    is broadcast and norms are computed per row, not per pair."""
    e = e.withColumn("nrm", norm(F.col("embedding")))
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    return exact_topk(pairs, k, "query_id", "neighbor_id", "q_emb", "embedding", "q_nrm", "nrm")


BRUTE_FORCE_ORACLE = f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cos_sim
      FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
    )
    {_topk_sql("query_id", "neighbor_id", "scored", TOP_K)}
    """


@query("ann_cosine_topk", oracle=BRUTE_FORCE_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k cosine neighbors for the first N query vectors —
    the correctness baseline every ANN variant is measured against."""
    return brute_force_topk(load_tables(spark, sf_dir)["embeddings"], N_QUERIES)


# --------------------------------------------------------------------------
# IVF-style bucketed ANN (scale path; verified by recall-vs-bruteforce test)
# --------------------------------------------------------------------------
def ivf_centroids(e: DataFrame) -> DataFrame:
    """Per-cell centroids: element-wise mean of embeddings per label
    (posexplode + groupBy keeps this a pure shuffle-agg; at scale this
    is the one-time 'train' pass of the coarse quantizer).

    Decimal-accumulated mean, matching kmeans_assign: a plain double
    avg() is shuffle-order-dependent, and with adaptive sqrt(n) cells
    the probe decision boundaries are dense enough that 1-ulp centroid
    jitter can flip probe choices between engines/runs. Exact decimal
    sums make the centroid — and every oracle that replays it — value-
    stable at any scale."""
    dims = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("val").cast("double").cast("decimal(38,18)"))
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("mean_val")
        )
    )
    return dims.groupBy("label").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("pos"), F.col("mean_val")))
        ).alias("pairs")
    ).select(
        "label", F.transform(F.col("pairs"), lambda p: p["mean_val"]).alias("centroid")
    )


def ann_ivf_search(
    e: DataFrame, queries: DataFrame, k: int = TOP_K, nprobe: int = 2
) -> DataFrame:
    """Probe the `nprobe` nearest cells per query, exact-rank inside them.

    queries: (query_id, q_emb). Returns (query_id, neighbor_id, cos_sim).
    The probe set is small, so it is broadcast into a partition-pruned
    scan of the probed cells."""
    probe = probe_cells(queries, ivf_centroids(e), "query_id", nprobe).select(
        "query_id", "q_emb", norm(F.col("q_emb")).alias("q_nrm"), "label"
    )
    pairs = (
        e.withColumn("nrm", norm(F.col("embedding")))
        .join(F.broadcast(probe), "label")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    return exact_topk(
        pairs, k, "query_id", "vec_id", "q_emb", "embedding", "q_nrm", "nrm"
    ).withColumnRenamed("vec_id", "neighbor_id")


def knn_graph(e: DataFrame, k: int = TOP_K, nprobe: int = 2) -> DataFrame:
    """k-NN graph: top-k cosine neighbors for EVERY vector via IVF
    blocking — the building block embedding-dedup / clustering needs at
    corpus scale, where brute force is O(n²).

    Shape: every vector ranks the (broadcast) cell centroids and probes
    its ``nprobe`` nearest cells; candidate pairs come from an equi-join
    on the cell id, so the quadratic term is bounded per cell
    (sum(cell²)), never global. The probe side carries its embedding
    ``nprobe`` times — the standard IVF space/recall trade. With the
    demo's label-cells the join key has few distinct values; at real
    scale the quantizer is k-means with thousands of cells, and the cell
    id is the table's partition key so a probe is partition-pruned.

    The probe side is explicitly spread across the cluster before the
    scoring join: AQE sizes the probe shuffle by its own bytes (tiny —
    one row per vector per probe) and coalesces it, but the join fans
    every probe row out by |cell|, so the post-join compute is ~|cell|x
    the shuffle AQE measured — without the explicit repartition the
    whole O(pairs) dot-product loop lands on one core (measured 4.5x
    slower at sf0.1). The repartition moves O(nprobe*n) small rows to
    parallelize O(nprobe*n*cell) work — always a win.

    Returns (src_id, dst_id, cos_sim), k rows per src.
    """
    v = e.select("vec_id", _dbl(F.col("embedding")).alias("emb")).withColumn(
        "nrm", norm(F.col("emb"))
    )
    probes = (
        probe_cells(v, ivf_centroids(e), "vec_id", nprobe, emb="emb", nrm="nrm")
        .select(
            F.col("vec_id").alias("src_id"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            "label",
        )
        .repartition(default_parallelism(e.sparkSession))
    )
    members = e.select(
        F.col("vec_id").alias("dst_id"), _dbl(F.col("embedding")).alias("m_emb"), "label"
    ).withColumn("d_nrm", norm(F.col("m_emb")))
    # no broadcast hint on members: locally AQE broadcasts the small side
    # (preserving the probe-side parallelism); at scale both sides are
    # huge and the right plan is a shuffle join co-located on the cell id
    pairs = probes.join(members, "label").filter(F.col("dst_id") != F.col("src_id"))
    return exact_topk(pairs, k, "src_id", "dst_id", "q_emb", "m_emb", "q_nrm", "d_nrm")


def _knn_sql(head: str, source: str, members: str, m: str, nprobe: int, k: int) -> str:
    """Replay knn_graph: ``head`` (CTEs ending in `cents`), the first
    ``nprobe`` cells of every vector of ``source``, exact cosine against
    the ``members`` (aliased ``m``) of the probed cells, top-k per
    source. A full SELECT (src_id, dst_id, cos_sim)."""
    ranked = _cell_rank_sql(
        "v.vec_id AS src_id, v.embedding AS q_emb", "v.vec_id", "v.embedding", f"{source} v"
    )
    return f"""
    WITH {head},
    {_probe_sql("probes", "src_id", ranked, nprobe)},
    scored AS (
      SELECT p.src_id, {m}.vec_id AS dst_id,
             ROUND(list_cosine_similarity(p.q_emb::DOUBLE[], {m}.embedding::DOUBLE[]), 6)
               AS cos_sim
      FROM probes p JOIN {members} {m}
        ON {m}.label = p.label AND {m}.vec_id <> p.src_id
    )
    {_topk_sql("src_id", "dst_id", "scored", k)}
    """


@query(
    "ann_knn_graph",
    # full replay of the IVF-blocked graph: centroids, per-vector probe
    # ranking, in-cell exact scoring — same determinism argument as
    # ann_ivf_topk (verified bit-exact there)
    oracle=_knn_sql(_label_cents_sql("embeddings"), "embeddings", "embeddings", "e", 2, TOP_K),
)
def ann_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return knn_graph(t["embeddings"], k=TOP_K, nprobe=2)


# exact-within-probed-cells replay of the IVF search at nprobe=3. It is
# the oracle of ann_ivf_topk, and of IVF-PQ (similarity/pq.py) and the
# persisted-index queries (index_store): the ADC shortlist recovers the
# in-cell top-k at the gated scales and the rerank recomputes EXACT
# cosine, so a recall regression surfaces as a value mismatch.
def ivf_oracle_sql(base_where: str = "TRUE", neighbor_where: str = "TRUE") -> str:
    """IVF replay oracle. ``base_where`` restricts the rows the
    coarse quantizer (centroids) was trained on — the add path trains
    on the base subset but serves over ALL rows (scored stage always
    joins the full table). ``neighbor_where`` (column refs on ``e``)
    restricts which rows are SERVEABLE as neighbors — the delete path's
    tombstoned ids drop out of scoring but stay out of training."""
    ranked = _cell_rank_sql("q.query_id, q.q_emb", "q.query_id", "q.q_emb", "q")
    return f"""
    WITH {_label_cents_sql(f"embeddings WHERE {base_where}")},
    q AS (
      SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
      WHERE vec_id < {N_QUERIES}
    ),
    {_probe_sql("probe", "query_id", ranked, 3)},
    scored AS (
      SELECT p.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(p.q_emb::DOUBLE[], e.embedding::DOUBLE[]), 6)
               AS cos_sim
      FROM probe p JOIN embeddings e
        ON e.label = p.label AND e.vec_id <> p.query_id
      WHERE {neighbor_where}
    )
    {_topk_sql("query_id", "neighbor_id", "scored", TOP_K)}
    """


IVF_ORACLE = ivf_oracle_sql()


@query("ann_ivf_topk", oracle=IVF_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    e = t["embeddings"]
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return ann_ivf_search(e, q, k=TOP_K, nprobe=3)


# --------------------------------------------------------------------------
# adaptive-cardinality cells: the 10x scaling run (PERFORMANCE.md round 4)
# showed that any blocking key with FIXED cardinality turns 10x rows into
# ~100x candidate pairs. The fix is a quantizer whose cell count GROWS
# with the corpus: k-means cells with k = ceil(sqrt(n)) keep the expected
# per-cell population at sqrt(n), so sum(cell^2) ~ n * sqrt(n) per probe
# — flat per-row candidate cost as n grows.
#
# Oracle (round-4 verdict item 2): the whole adaptive path IS
# SQL-replayable. Every step of adaptive_cells is deterministic (init =
# first k by vec_id, one Lloyd step, decimal-accumulated means,
# first-index argmin tie-break) and the one data-dependent input — k =
# max(8, ceil(sqrt(n))) — is itself a SQL scalar DuckDB accepts inside
# LIMIT. So the oracle chains the unrolled kmeans CTEs (kmeans.
# kmeans_ctes with a COUNT(*) subquery as k) with the same
# probe/score/top-k replay ann_knn_graph's oracle already proved
# bit-exact. Recall vs the exact baseline stays gated in pytest.
# --------------------------------------------------------------------------
_N_CACHE: dict[tuple, int] = {}

_ADAPTIVE_K_SQL = (
    "SELECT CAST(GREATEST(8, CEIL(SQRT(COUNT(*)))) AS BIGINT) FROM {source}"
)


def _cells_cents_sql(source: str = "embeddings") -> str:
    """DuckDB CTE fragment `cells` (vec_id, embedding, adaptive-cell
    label from the unrolled Lloyd chain) + `cents` (per-cell decimal-
    accumulated mean centroids) — the shared quantizer head of every
    adaptive-knn oracle (_adaptive_knn_sql and the nprobe coverage
    sweep replay the SAME cell geometry, so neither can drift).
    ``source`` is the (vec_id, embedding) relation to quantize — the
    planted-cluster recall audit points it at a derived CTE."""
    from disco_spark.similarity.kmeans import kmeans_ctes

    dims = f"""(
          {_dims_sql("cells")}
        )"""
    return f"""{kmeans_ctes(_ADAPTIVE_K_SQL.format(source=source), iters=1, source=source)},
    cells AS (
      SELECT e.vec_id, e.embedding, a.cluster AS label
      FROM {source} e JOIN afinal a USING (vec_id)
    ),
    {_cents_sql(dims)}"""


def _adaptive_knn_sql(nprobe: int, k: int, source: str = "embeddings") -> str:
    """Replay knn_graph over adaptive sqrt(n) k-means cells: converged
    assignments from the unrolled Lloyd CTEs, per-cell mean centroids,
    top-nprobe cell probes per vector, exact cosine within probed cells,
    top-k per source. Returns a full SELECT (src_id, dst_id, cos_sim).
    ``source`` is the (vec_id, embedding) relation to replay (the
    planted-cluster audit points it at a derived CTE)."""
    return _knn_sql(_cells_cents_sql(source), source, "cells", "m", nprobe, k)


def adaptive_cells(e: DataFrame, iters: int = 1) -> DataFrame:
    """(vec_id, label) cell assignment with k = ceil(sqrt(n)) k-means
    cells. The count() is one bounded action; at real scale the trainer
    would fit on a sample (k centroid literals is the only driver
    state). iters defaults to 1: a single Lloyd step already separates
    cells as well as more (measured identical downstream recall at
    iters 1/2/3 on the synthetic embeddings) and each extra iteration
    is another sequential driver action — quantizer quality, not
    convergence, is what the cells are for."""
    import math

    from disco_spark.similarity.kmeans import _plan_key, kmeans_assign

    # the bounded count is cached per (application, input) alongside the
    # centers cache: the adaptive k-NN graph and the embedding dedup
    # share one quantizer, so the second caller trains nothing and
    # counts nothing
    ckey = _plan_key(e, "adaptive_n")
    n = _N_CACHE.get(ckey) if ckey is not None else None
    if n is None:
        n = e.count()
        if ckey is not None:
            _N_CACHE[ckey] = n
    k = max(8, math.isqrt(max(n - 1, 0)) + 1)
    return kmeans_assign(e, k=k, iters=iters).select(
        "vec_id", F.col("cluster").alias("label")
    )


# persisted k-NN graph store: the adaptive graph is the shared
# substrate of THREE registered consumers (the graph itself, the
# cosine dedup pairs, the SemDeDup prune) — a production pipeline
# materializes it once and every consumer reads the materialization,
# exactly like the ANN index and the LSH signature store (one
# store.ensure, same file_fingerprints manifest staleness, same
# build-once-serve-warm contract). Doubles roundtrip parquet
# bit-exactly, so a warm serve is indistinguishable from a fresh
# compute (pytest-pinned).
def _adaptive_knn(
    spark: SparkSession, sf_dir: str, k: int = TOP_K, nprobe: int = 4
) -> DataFrame:
    e = load_tables(spark, sf_dir)["embeddings"]
    path = store.store_path("knn_graph", sf_dir, f"_k{k}_p{nprobe}")
    want = {
        "input_files": file_fingerprints(e.inputFiles()),
        "k": k,
        "nprobe": nprobe,
        "algo": "adaptive-sqrt-cells-lloyd1-v1",
    }

    def write(d: str) -> None:
        cells = adaptive_cells(e)
        # persist the assignment: knn_graph references its input in
        # three places (centroid agg, probe side, in-cell join side),
        # and without this each reference re-evaluates — and
        # re-CODEGENS — the k-center nearest-cell expression (k array
        # literals; the compile alone is seconds once k hits sqrt(n)).
        # One materialization serves all three; released at the next
        # registered query like every deferred persist.
        e2 = lazy_persist(
            e.drop("label").join(cells, "vec_id").select("vec_id", "embedding", "label")
        )
        knn_graph(e2, k=k, nprobe=nprobe).write.parquet(os.path.join(d, "graph"))

    store.ensure(path, want, write)
    return store.read(spark, path, store.blobs(path)["graph"])


@query(
    "dedup_cluster_embedding",
    # CC over the SAME adaptive-knn replay chain as
    # dedup_embedding_cosine, recursive-CTE closure on top (the
    # dedup_cluster_* oracle pattern); singletons map to themselves
    oracle=f"""
    WITH RECURSIVE knn AS ({_adaptive_knn_sql(nprobe=4, k=TOP_K)}),
    pairs AS (
      SELECT src_id AS a, dst_id AS b FROM knn
      WHERE cos_sim >= {COS_MIN} AND src_id < dst_id
    ),
    edges AS (SELECT a AS s, b AS d FROM pairs
              UNION ALL SELECT b, a FROM pairs),
    reach(node, comp) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.node
    ),
    cc AS (SELECT node AS vec_id, MIN(comp) AS cluster_id
           FROM reach GROUP BY node)
    SELECT vec_id, cluster_id FROM cc
    UNION ALL
    SELECT vec_id, vec_id AS cluster_id FROM embeddings
    WHERE vec_id NOT IN (SELECT vec_id FROM cc)
    """,
)
def dedup_cluster_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster_id) over the embedding near-dup graph:
    connected components of the adaptive-cell k-NN cosine pairs at
    COS_MIN (dedup_embedding_cosine's edge set), singletons mapping to
    themselves — the embedding-space member of the cluster-map family
    (LSH: dedup_cluster_canonical; exact jaccard: dedup_cluster_exact;
    hamming: dedup_cluster_hamming). SemDeDup's keep policy
    (dedup_semantic_prune) answers "which vector survives"; this map
    answers "which vectors are the same thing", which is what split
    assignment and contamination audits need (a cluster must never
    straddle a train/test split).

    Scale shape: the edge set is k-capped per vector by construction
    (<= k*n edges — never a threshold-complete enumeration), so CC
    stays bounded; components come from the shared hybrid
    connected_components (driver union-find under the edge threshold,
    large-star/small-star above)."""
    from disco_spark.dedup.cc import connected_components

    pairs = embedding_dedup_pairs(spark, sf_dir)
    comp = connected_components(
        pairs.select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    ).select(F.col("node").alias("vec_id"), F.col("comp").alias("cluster_id"))
    e = load_tables(spark, sf_dir)["embeddings"]
    singles = e.select("vec_id").join(comp, "vec_id", "left_anti").select(
        "vec_id", F.col("vec_id").alias("cluster_id")
    )
    return comp.unionByName(singles)


def embedding_dedup_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = COS_MIN,
    k: int = TOP_K,
    nprobe: int = 4,
) -> DataFrame:
    """Parameterized embedding near-dup entry point: adaptive-cell k-NN
    edges >= ``threshold``, each pair once (vec_a < vec_b).

    The graph is CAPPED, not thresholded-complete: each vector
    contributes at most ``k`` outgoing edges, so a vector sitting in a
    dense duplicate cluster with more than ``k`` neighbors above
    ``threshold`` drops the excess pairs. Raise ``k`` when downstream
    consumers need the complete >=threshold pair set within probed
    cells (cost grows linearly in k); the registered query pins
    k=TOP_K to match its replay oracle."""
    g = _adaptive_knn(spark, sf_dir, k=k, nprobe=nprobe)
    return (
        g.filter((F.col("cos_sim") >= threshold) & (F.col("src_id") < F.col("dst_id")))
        .select(
            F.col("src_id").alias("vec_a"),
            F.col("dst_id").alias("vec_b"),
            "cos_sim",
        )
    )


@query(
    "dedup_embedding_cosine_deep",
    # same full-replay oracle, k=20: the per-vector edge cap is a REAL
    # parameter (ADVICE round 5) — this registered variant proves the
    # tunable path end-to-end for consumers that need the (near-)
    # complete >=COS_MIN pair set within probed cells
    oracle=f"""
    WITH knn AS ({_adaptive_knn_sql(nprobe=4, k=20)})
    SELECT src_id AS vec_a, dst_id AS vec_b, cos_sim FROM knn
    WHERE cos_sim >= {COS_MIN} AND src_id < dst_id
    """,
)
def dedup_embedding_cosine_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_dedup_pairs at k=20 (vs the default k=TOP_K cap): a
    vector in a dense duplicate cluster keeps up to 20 >=COS_MIN edges
    instead of 5. Cost grows linearly in k (the top-k window widens;
    the pair space is unchanged), so deep-k is a per-consumer choice,
    not a plan change."""
    return embedding_dedup_pairs(spark, sf_dir, k=20)


@query("ann_knn_graph_adaptive", oracle=_adaptive_knn_sql(nprobe=4, k=TOP_K))
def ann_knn_graph_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_graph over adaptive sqrt(n)-cardinality k-means cells — the
    shape that stays linear-per-row at 100 TB where the fixed-label
    variant goes quadratic (measured 22.6x at a 10x scale-up). The
    oracle replays the full deterministic path (see _adaptive_knn_sql).
    NOTE on the recall level: the synthetic embeddings are near-uniform
    in 16-d, the hardest case for any IVF quantizer — recall@5 is ~0.52
    probing 4 of sqrt(n) cells at sf0.01, and the pytest gate (>=0.45)
    exists to catch regressions, not to claim state-of-the-art ANN on
    random data; on naturally clustered embeddings the same plan probes
    the generative clusters (cf. ann_ivf_topk's label cells, where
    recall is ~1)."""
    return _adaptive_knn(spark, sf_dir)


# Audit probe budget: 128 probe vectors (vs the 5 ann_cosine_topk
# demos with). 128 * TOP_K = 640 ground-truth pairs per audit — enough
# that a recall shift of a couple of points moves whole histogram rows,
# while the exact side stays a broadcast-probed O(128 * n) scan.
AUDIT_N_QUERIES = 128


def _exact_pairs_sql(n_queries: int, source: str = "embeddings") -> str:
    """DuckDB CTEs `q` (probe vectors) -> `qscored` -> `exact`
    ((query_id, neighbor_id) ground truth) mirroring brute_force_topk.
    ``source`` is the (vec_id, embedding) relation to audit (the
    planted-cluster audit points it at a derived CTE)."""
    return f"""
    q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM {source}
          WHERE vec_id < {n_queries}),
    qscored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(q.q_emb::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cos_sim
      FROM q JOIN {source} e ON e.vec_id <> q.query_id
    ),
    exact AS (
      {_topk_sql("query_id", "neighbor_id", "qscored", TOP_K, "query_id, neighbor_id")}
    )"""


def _recall_histogram(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """(n_matched, n_queries): how many probes recovered how many of
    their exact (query_id, neighbor_id) pairs in ``approx`` (src_id,
    dst_id)."""
    joined = exact.join(
        approx,
        (exact.query_id == approx.src_id) & (exact.neighbor_id == approx.dst_id),
        "left",
    )
    per_q = joined.groupBy("query_id").agg(F.count("dst_id").alias("n_matched"))
    return per_q.groupBy("n_matched").agg(F.count(F.lit(1)).alias("n_queries"))


# DuckDB twin of _recall_histogram over CTEs `exact` and `knn`
_RECALL_SQL = """matched AS (
      SELECT e.query_id, COUNT(k.dst_id) AS m
      FROM exact e LEFT JOIN knn k
        ON k.src_id = e.query_id AND k.dst_id = e.neighbor_id
      GROUP BY 1
    )
    SELECT CAST(m AS BIGINT) AS n_matched,
           CAST(COUNT(*) AS BIGINT) AS n_queries
    FROM matched GROUP BY 1"""


@query(
    "ann_recall_audit",
    oracle=f"""
    WITH knn AS ({_adaptive_knn_sql(nprobe=4, k=TOP_K)}),
    {_exact_pairs_sql(AUDIT_N_QUERIES)},
    {_RECALL_SQL}
    """,
)
def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@5 of the production adaptive-cell k-NN graph
    against the exact brute-force top-5, on a 128-probe sample
    (AUDIT_N_QUERIES; 640 ground-truth pairs): for each probe vector,
    how many of its TRUE top-5 cosine neighbors the IVF graph
    recovered — reported as the exact integer histogram (n_matched in
    0..5, n_queries). Integer counts, never a float recall, so both
    engines agree bit-for-bit and rank-boundary cosine ties (broken
    identically on both sides: ROUND(cos,6) DESC, id ASC) cannot
    wobble the result.

    This is the ANN-side twin of dedup_lsh_recall_curve, at matching
    statistical depth: the pytest gate (recall@5 >= 0.45 on
    near-uniform 16-d data) catches regressions, but the
    driver-checked histogram MEASURES the space/recall trade per
    corpus — and ann_nprobe_calibration decomposes it along the nprobe
    axis. Scale shape: exact side is O(128 * n) with the probe set
    broadcast (a sample audit, never all-pairs); approx side serves
    warm off the persisted graph store; the comparison join starts
    FROM the 640-row exact list."""
    t = load_tables(spark, sf_dir)
    exact = brute_force_topk(t["embeddings"], AUDIT_N_QUERIES)
    approx = _adaptive_knn(spark, sf_dir).select("src_id", "dst_id")
    return _recall_histogram(exact, approx)


# --------------------------------------------------------------------------
# nprobe calibration: candidate-coverage-vs-nprobe sweep — the decision-
# side companion to ann_recall_audit, exactly as dedup_band_cap_calibration
# is to BAND_CAP. Coverage@nprobe = fraction of TRUE top-k pairs whose
# neighbor lives in one of the query's first `nprobe` cells — the
# standard IVF candidate-recall metric, an upper bound on (and at the
# production setting, empirically equal to) end-to-end recall, and
# integer-exact: it needs no tie adjudication inside the probed scan.
# --------------------------------------------------------------------------
NPROBE_SWEEP = [1, 2, 4, 8]


@query(
    "ann_nprobe_calibration",
    oracle=f"""
    WITH {_cells_cents_sql()},
    {_exact_pairs_sql(AUDIT_N_QUERIES)},
    cellrank AS (
      {_cell_rank_sql("q.query_id", "q.query_id", "q.q_emb", "q", "cell_rank")}
    ),
    covered AS (
      SELECT r.cell_rank
      FROM exact e
        JOIN cells m ON m.vec_id = e.neighbor_id
        JOIN cellrank r ON r.query_id = e.query_id AND r.label = m.label
    ),
    nprobes AS (SELECT unnest({NPROBE_SWEEP}) AS nprobe),
    per AS (
      SELECT nprobes.nprobe, COUNT(c.cell_rank) AS n_covered
      FROM nprobes LEFT JOIN covered c ON c.cell_rank <= nprobes.nprobe
      GROUP BY 1
    ),
    total AS (SELECT COUNT(*) AS tot FROM exact)
    SELECT CAST(nprobe AS BIGINT) AS nprobe,
           CAST(n_covered AS BIGINT) AS n_covered,
           CASE WHEN tot > 0
                THEN ROUND(CAST(n_covered AS DOUBLE) / tot, 6)
           END AS coverage
    FROM per CROSS JOIN total
    """,
)
def ann_nprobe_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate coverage vs nprobe, swept over nprobe ∈ {1, 2, 4, 8}
    on the 128-probe audit sample: for each sweep value, how many of
    the exact top-5 ground-truth pairs have their neighbor inside one
    of the query's first `nprobe` probed cells (same adaptive sqrt(n)
    cells, same rounded-centroid probe order as the production graph).
    The flat part of the curve is where extra probes stop buying
    recall — a corpus owner reads this once and sets nprobe from data,
    exactly as dedup_band_cap_calibration sets BAND_CAP.

    ONE quantizer pass and ONE ground-truth scan serve the whole
    sweep: each (query, true-neighbor) pair's minimum admitting nprobe
    IS its neighbor's cell rank in the query's probe order, the pairs
    pre-aggregate to at most |cells| rows, and the kernel-sized nprobe
    frame joins on cell_rank <= nprobe — never one search per sweep
    value. Scale shape: cell ranking is probes x sqrt(n) broadcast,
    ground truth is the audit's broadcast-probed scan."""
    e = load_tables(spark, sf_dir)["embeddings"]
    cells = adaptive_cells(e)
    e2 = lazy_persist(
        e.drop("label").join(cells, "vec_id").select("vec_id", "embedding", "label")
    )
    exact = brute_force_topk(e2, AUDIT_N_QUERIES)
    q = e2.filter(F.col("vec_id") < AUDIT_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    ranks = probe_cells(q, ivf_centroids(e2), "query_id").select(
        "query_id", "label", F.col("rn").alias("cell_rank")
    )
    covered = (
        exact.join(
            e2.select(F.col("vec_id").alias("neighbor_id"), "label"),
            "neighbor_id",
        )
        .join(ranks, ["query_id", "label"])
        .select("cell_rank")
    )
    by_rank = covered.groupBy("cell_rank").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    nprobes = spark.createDataFrame([(p,) for p in NPROBE_SWEEP], "nprobe int")
    per = (
        nprobes.join(
            F.broadcast(by_rank), F.col("cell_rank") <= F.col("nprobe"), "left"
        )
        .groupBy("nprobe")
        .agg(
            F.coalesce(F.sum("n_pairs"), F.lit(0))
            .cast("bigint")
            .alias("n_covered")
        )
    )
    total = F.broadcast(exact.agg(F.count(F.lit(1)).alias("_tot")))
    return per.crossJoin(total).select(
        F.col("nprobe").cast("bigint").alias("nprobe"),
        "n_covered",
        F.when(
            F.col("_tot") > 0,
            F.round(F.col("n_covered").cast("double") / F.col("_tot"), 6),
        ).alias("coverage"),
    )


# --------------------------------------------------------------------------
# planted-cluster recall audit: the structured-corpus complement of
# ann_recall_audit. The honest 0.573 near-uniform number says what the
# quantizer does on the HARDEST geometry (no structure to find); this
# audit plants 16 tight, deterministic clusters and shows the SAME
# production pipeline (adaptive sqrt(n) cells, 1 Lloyd step, nprobe=4)
# recovering them — expected recall ~1, the signature of embeddings
# with real cluster structure (which trained-model embeddings have).
# --------------------------------------------------------------------------
PLANTED_CLUSTERS = 16
PLANTED_DIM = 16
# 2^-4: the jitter scale is a power of two so center + jitter*u is an
# EXACT double in both engines (u values are 32-bit dyadic rationals;
# the sum needs ~37 mantissa bits) — the planted vectors are therefore
# bit-identical across Spark and DuckDB with no rounding adjudication
PLANTED_JITTER = 0.0625

_PLANTED_SQL = f"""planted AS (
      SELECT vec_id, list(
          (CAST('0x' || substr(md5('pc ' || (vec_id % {PLANTED_CLUSTERS}) || ' ' || d), 1, 8) AS BIGINT)
             / 4294967296.0 * 2 - 1)
        + {PLANTED_JITTER} * (CAST('0x' || substr(md5('pj ' || vec_id || ' ' || d), 1, 8) AS BIGINT)
             / 4294967296.0 * 2 - 1)
        ORDER BY d) AS embedding
      FROM embeddings CROSS JOIN (SELECT unnest(generate_series(0, {PLANTED_DIM - 1})) AS d)
      GROUP BY vec_id
    )"""


# persisted planted-corpus quantizer: the audit's trained cells
# (vec_id, label) keyed by the embeddings files that derive the corpus
# — the ann_index/knn_graph store convention (store.ensure,
# file_fingerprints manifest). The planted corpus is a pure function
# of the embeddings table's vec_ids, so the input-file fingerprints
# ARE the corpus identity; adaptive_cells is deterministic and integer
# labels roundtrip parquet exactly, so a warm serve is bit-identical
# to a fresh train (pytest-pinned) and the recall oracle is untouched.
# This moves the one-time sqrt(n)-center training + k-argmin codegen
# out of every audit call — the serve path (probe ranking + in-cell
# scoring) still runs in-query; ann_knn_graph, which builds its graph
# in-query on every call, keeps the cold-build cost visible.
def planted_cells_store(
    spark: SparkSession, sf_dir: str, planted: DataFrame, emb: DataFrame
) -> DataFrame:
    """(vec_id, label) adaptive cells for the planted corpus, served
    from the persisted store when the manifest matches; trained and
    built otherwise (store.ensure)."""
    path = store.store_path("planted_cells", sf_dir)
    want = {
        "input_files": file_fingerprints(emb.inputFiles()),
        "clusters": PLANTED_CLUSTERS,
        "dim": PLANTED_DIM,
        "jitter": PLANTED_JITTER,
        "algo": "adaptive-sqrt-cells-lloyd1-v1",
    }
    store.ensure(
        path,
        want,
        lambda d: adaptive_cells(planted).write.parquet(os.path.join(d, "cells")),
    )
    return store.read(spark, path, store.blobs(path)["cells"])


def _planted_vectors(ids: DataFrame) -> DataFrame:
    """(vec_id, embedding): 16 planted clusters over the given vec_ids —
    cluster = vec_id % 16, center and jitter both md5-derived doubles in
    [-1, 1), vector = center + 0.0625 * jitter. Deterministic, engine-
    portable (md5 of identical strings), and exactly representable (see
    PLANTED_JITTER), so DuckDB's _PLANTED_SQL builds the identical
    corpus. Derived from vec_id alone; scales with the table it reads
    ids from."""

    def u(s):
        return (
            F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("double")
            / F.lit(4294967296.0)
            * 2
            - 1
        )

    c = (F.col("vec_id") % PLANTED_CLUSTERS).cast("string")
    v = F.col("vec_id").cast("string")
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(PLANTED_DIM - 1)),
        lambda d: u(F.concat_ws(" ", F.lit("pc"), c, d.cast("string")))
        + F.lit(PLANTED_JITTER)
        * u(F.concat_ws(" ", F.lit("pj"), v, d.cast("string"))),
    )
    return ids.select("vec_id", emb.alias("embedding"))


@query(
    "ann_recall_audit_planted",
    oracle=f"""
    WITH {_PLANTED_SQL},
    knn AS ({_adaptive_knn_sql(nprobe=4, k=TOP_K, source="planted")}),
    {_exact_pairs_sql(AUDIT_N_QUERIES, source="planted")},
    {_RECALL_SQL}
    """,
)
def ann_recall_audit_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_recall_audit on a PLANTED-cluster corpus: 16 tight md5-
    deterministic clusters (same-cluster cosine ~0.996, cross ~0.0)
    derived from the embeddings table's vec_ids, run through the SAME
    production pipeline — adaptive sqrt(n) k-means cells, one Lloyd
    step, nprobe=4 — and scored against exact brute-force top-5 on the
    128-probe audit sample, as the exact integer histogram (n_matched,
    n_queries). Measured recall@5 = 1.0: the structured-corpus
    complement of ann_recall_audit's honest 0.573 on near-uniform
    16-d data — together they bracket the quantizer (structure found
    when it exists; graceful candidate coverage when it doesn't, with
    ann_nprobe_calibration pricing the probe axis between them).

    Scale shape: identical to ann_recall_audit (exact side is a
    broadcast-probed O(128 * n) sample scan, approx side is the
    n*sqrt(n)/probe graph); the planted corpus is generated column-
    side (md5 expressions, whole-stage codegen) and never collected.
    The quantizer's trained cells are served from the persisted
    planted_cells store (keyed by the embeddings files the corpus
    derives from — planted_cells_store docstring) so the audit
    measures the SERVE path like every other warm ANN query; the
    explicit cold-build instrument remains the ann_knn_graph row."""
    t = load_tables(spark, sf_dir)
    planted = lazy_persist(_planted_vectors(t["embeddings"].select("vec_id")))
    cells = planted_cells_store(spark, sf_dir, planted, t["embeddings"])
    p2 = lazy_persist(
        planted.join(cells, "vec_id").select("vec_id", "embedding", "label")
    )
    exact = brute_force_topk(planted, AUDIT_N_QUERIES)
    approx = knn_graph(p2, k=TOP_K, nprobe=4).select("src_id", "dst_id")
    return _recall_histogram(exact, approx)


@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH knn AS ({_adaptive_knn_sql(nprobe=4, k=TOP_K)})
    SELECT src_id AS vec_a, dst_id AS vec_b, cos_sim FROM knn
    WHERE cos_sim >= {COS_MIN} AND src_id < dst_id
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: the adaptive-cell k-NN graph filtered
    to the COS_MIN threshold, pairs emitted once (src < dst).

    This is the registered (user-facing) plan since round 5: the former
    fixed-label block join — retained in dedup.dedup as the test-only
    exact recall baseline (embedding_cosine_block_exact) — measured 71x
    at a 10x scale-up (quadratic per block, PERFORMANCE.md round 4);
    the adaptive sqrt(n)-cell pair space stays ~n*sqrt(n)/probe.

    Per-vector edge cap: pairs come from the k=TOP_K-capped k-NN graph,
    not a complete >=COS_MIN enumeration — see embedding_dedup_pairs
    for the tunable-k entry point and the cap semantics."""
    return embedding_dedup_pairs(spark, sf_dir)


@query(
    "dedup_semantic_prune",
    # composes the SAME adaptive-knn replay chain as
    # dedup_embedding_cosine; the keep policy is pure SQL on top
    oracle=f"""
    WITH knn AS ({_adaptive_knn_sql(nprobe=4, k=TOP_K)}),
    pairs AS (
      SELECT src_id AS vec_a, dst_id AS vec_b, cos_sim FROM knn
      WHERE cos_sim >= {COS_MIN} AND src_id < dst_id
    )
    SELECT vec_b AS vec_id,
           MIN(vec_a) AS kept_by,
           CAST(COUNT(*) AS BIGINT) AS n_better_dups,
           ROUND(MAX(cos_sim), 6) AS max_cos
    FROM pairs GROUP BY vec_b
    """,
)
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic prune list (Abbas et al. 2023 keep
    policy over the adaptive-cell near-dup graph): a vector is PRUNED
    when a lower-id vector sits within the COS_MIN cosine ball — one
    deterministic survivor per near-dup chain, every pruned vector
    reported with its keeper (min such neighbor), how many better
    duplicates it had, and its closest similarity. Feed the vec_id
    column to an anti-join and the corpus keeps exactly the canonical
    representatives — the embedding-space analog of dedup_exact's
    min-id representative rule.

    Plan: the pair generator is the k-NN graph dedup_embedding_cosine
    already ships (adaptive sqrt(n) cells, per-vector edge cap — pair
    space ~n*sqrt(n)/probe, never per-cell quadratic); the keep policy
    adds ONE groupBy over the near-dup edges, which are a small
    fraction of any real corpus. Inherits the k-cap semantics: a
    vector with more than k=TOP_K better duplicates still prunes
    (any one edge suffices), only its n_better_dups undercounts."""
    pairs = embedding_dedup_pairs(spark, sf_dir)
    return pairs.groupBy(F.col("vec_b").alias("vec_id")).agg(
        F.min("vec_a").alias("kept_by"),
        F.count(F.lit(1)).cast("bigint").alias("n_better_dups"),
        F.round(F.max("cos_sim"), 6).alias("max_cos"),
    )
